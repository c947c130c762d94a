"""End-to-end golden corpus: the 39 official RML CSV test cases.

Mirrors the reference's own corpus (`run_test.sh` +
`resources/csv-testcases/*/output.nq`) but actually *executes* each
mapping on Spark and diffs triples (the reference only checks that plan
generation succeeds; SURVEY.md §5).  BASELINE target: P/R ≥ 0.95.

Without the reference checkout the corpus cases skip, and the P/R gate
runs over the hand-written cases under ``fixtures/rml`` (joins, a
named graph, classes, language tags, datatypes, JSON nulls, empty and
missing CSV cells, literal escapes, invalid IRI values, relative IRIs
against ``@base``, triples emitted twice, an invalid mapping), which
always run, as do the ShExML cases under ``fixtures/shexml``.
"""

from __future__ import annotations

import glob
import os

import pytest

from kgloom.engine import nquads, run_rml_file, run_shexml
from kgloom.exec.binder import BindError
from kgloom.rml.extract import RmlValidationError

from conftest import REFERENCE, requires_reference
from golden import parse_nquads, precision_recall

CORPUS = f"{REFERENCE}/resources/csv-testcases"
CASES = sorted(glob.glob(f"{CORPUS}/RMLTC*"))
FIXTURES = sorted(glob.glob(
    os.path.join(os.path.dirname(__file__), "fixtures", "rml", "*")))
SHEXML_FIXTURES = sorted(glob.glob(
    os.path.join(os.path.dirname(__file__), "fixtures", "shexml", "*")))
#: implementations of the FUNCTIONS helpers the ShExML fixtures call
SHEXML_FUNCTIONS = {
    "helper.isBefore2010": lambda year: year.cast("int") < 2010,
    "helper.outsideUSA": lambda country: country != "USA",
}


def run_case(spark, case: str):
    """Execute the case in directory ``case``; compile/bind rejections
    (invalid mappings — RMLTC0002c/0002e/0007h/0012c/0012d/0015b)
    yield the empty set, which is exactly what their golden output
    is."""
    try:
        df = run_rml_file(spark, f"{case}/mapping.ttl", base_dir=case)
    except (RmlValidationError, BindError):
        return set()
    return set(parse_nquads("\n".join(nquads(df))))


def load_expected(case: str) -> set:
    path = f"{case}/output.nq"
    if not os.path.exists(path):
        return set()
    with open(path, encoding="utf-8") as f:
        return parse_nquads(f.read())


def _check_case(spark, case: str) -> None:
    actual = run_case(spark, case)
    expected = load_expected(case)
    name = os.path.basename(case)
    assert actual == expected, (
        f"{name}: \n  missing: {sorted(expected - actual)[:5]}"
        f"\n  extra: {sorted(actual - expected)[:5]}")


@requires_reference
@pytest.mark.parametrize("case", CASES,
                         ids=[os.path.basename(c) for c in CASES])
def test_golden_case(spark, case):
    _check_case(spark, case)


@pytest.mark.parametrize("case", FIXTURES,
                         ids=[os.path.basename(c) for c in FIXTURES])
def test_fixture_case(spark, case):
    _check_case(spark, case)


@pytest.mark.parametrize("case", SHEXML_FIXTURES,
                         ids=[os.path.basename(c) for c in SHEXML_FIXTURES])
def test_shexml_fixture_case(spark, case):
    with open(f"{case}/mapping.shexml", encoding="utf-8") as f:
        df = run_shexml(spark, f.read(), base_dir=case,
                        functions=SHEXML_FUNCTIONS)
    assert set(parse_nquads("\n".join(nquads(df)))) == load_expected(case)


def test_corpus_precision_recall(spark):
    """Aggregate P/R — the BASELINE.json gate — over all 39 corpus
    cases, or over the in-repo fixtures when the reference checkout is
    absent; never over zero cases."""
    if os.path.isdir(REFERENCE):
        assert len(CASES) == 39, CASES
        cases = CASES
    else:
        assert FIXTURES
        cases = FIXTURES
    tps = acts = exps = 0
    for case in cases:
        expected = load_expected(case)
        actual = run_case(spark, case)
        tps += len(actual & expected)
        acts += len(actual)
        exps += len(expected)
    precision = tps / acts if acts else 1.0
    recall = tps / exps if exps else 1.0
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
