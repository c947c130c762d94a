"""CLI surface (python -m kgloom): the reference translator's
file/folder modes — plan emission next to the mapping (json/dot/
pretty-dot, `/root/reference/src/bin/translator/util.rs`) plus the
--execute extension."""

import json
import os
import shutil
import subprocess
import sys

from conftest import REFERENCE, requires_reference

CASE = f"{REFERENCE}/resources/csv-testcases/RMLTC0000-CSV"


def _copy_case(tmp_path, case=CASE):
    dst = tmp_path / os.path.basename(case)
    shutil.copytree(case, dst)
    return dst


@requires_reference
def test_cli_file_emits_plan_artifacts(tmp_path):
    """Subprocess end-to-end: plan emission needs no Spark session."""
    dst = _copy_case(tmp_path)
    r = subprocess.run(
        [sys.executable, "-m", "kgloom", "file", str(dst / "mapping.ttl")],
        capture_output=True, text=True, cwd="/root/repo")
    assert r.returncode == 0, r.stderr
    for suffix in ("mapping.json", "mapping.dot", "mapping_pretty.dot"):
        assert (dst / suffix).exists(), suffix
    plan = json.loads((dst / "mapping.json").read_text())
    types = {n["operator"]["type"] for n in plan["nodes"]}
    assert {"SourceOp", "ProjectOp", "ExtendOp", "SerializerOp",
            "TargetOp"} <= types


@requires_reference
def test_cli_folder_mode(tmp_path):
    _copy_case(tmp_path)
    _copy_case(tmp_path, f"{REFERENCE}/resources/csv-testcases/RMLTC0001a-CSV")
    r = subprocess.run(
        [sys.executable, "-m", "kgloom", "folder", str(tmp_path)],
        capture_output=True, text=True, cwd="/root/repo")
    assert r.returncode == 0, r.stderr
    made = [str(p) for p in tmp_path.rglob("mapping.json")]
    assert len(made) == 2


@requires_reference
def test_cli_execute_writes_nquads(spark, tmp_path):
    """--execute path driven in-process against the session fixture
    (the subprocess variant would spin a second JVM)."""
    from kgloom.cli import process_file
    dst = _copy_case(
        tmp_path, f"{REFERENCE}/resources/csv-testcases/RMLTC0001a-CSV")
    ok = process_file(str(dst / "mapping.ttl"), execute=True, spark=spark)
    assert ok
    out = (dst / "mapping.out.nq").read_text().strip().splitlines()
    want = (dst / "output.nq").read_text().strip().splitlines()
    clean = lambda ls: sorted(l for l in ls if l and not l.startswith("#"))
    assert clean(out) == clean(want)


def test_cli_invalid_mapping_reports_error(tmp_path):
    bad = tmp_path / "bad.ttl"
    bad.write_text("@prefix rr: <http://www.w3.org/ns/r2rml#> .\n"
                   "<#tm> rr:subjectMap [ rr:template \"x{\" ] .\n")
    r = subprocess.run(
        [sys.executable, "-m", "kgloom", "file", str(bad)],
        capture_output=True, text=True, cwd="/root/repo")
    assert r.returncode != 0
