"""One seed gives one set of inputs, and a traced run's counts (jobs,
rows, files and bytes written, triples) repeat exactly for it."""

import filecmp
import json
import os
import subprocess
import sys

import pytest

from perfbench import gen

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _same_tree(a, b) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    files = cmp.common_files
    return (filecmp.cmpfiles(a, b, files, shallow=False)[0] == files
            and all(_same_tree(os.path.join(a, d), os.path.join(b, d))
                    for d in cmp.common_dirs))


@pytest.mark.parametrize("seed", [1, 7])
def test_generators_repeat_per_seed(tmp_path, seed):
    for run in ("a", "b"):
        d = tmp_path / run
        gen.transcripts(seed, 2000, str(d / "turns"), str(d / "truth"))
        gen.events(seed, 300, 5, str(d / "events"))
        gen.stream_batches(seed, 3, 100, str(d / "batches"))
        docs = gen.mapping_docs(seed, str(d / "maps"))
        # ShExML names its sources by absolute path
        (d / "docs.json").write_text(json.dumps(
            [[x.name, x.text.replace(str(d), "<dir>"), sorted(x.expected),
              x.invalid] for x in docs]))
    assert _same_tree(tmp_path / "a", tmp_path / "b")


def test_seeds_differ(tmp_path):
    a = gen.mapping_docs(1, str(tmp_path / "a"))
    b = gen.mapping_docs(2, str(tmp_path / "b"))
    assert [d.text for d in a] != [d.text for d in b]


def test_mapping_docs_shape(tmp_path):
    docs = gen.mapping_docs(3, str(tmp_path))
    assert [(d.kind, d.invalid) for d in docs] == \
        [("rml", False), ("shexml", False), ("rml", True)]
    assert docs[0].expected and docs[1].expected and not docs[2].expected


#: per-layer metrics that are counts of work done, not times
COUNTS = ("plan.nodes", "exec.bind_jobs", "spark.jobs", "spark.stages",
          "spark.tasks", "transcripts.ingest_rows", "transcripts.mentions_rows",
          "transcripts.entities_rows", "transcripts.triples_rows",
          "tables.files_written", "tables.bytes_written_mb",
          "ops.jobs_per_query", "streaming.validate_batch.jobs",
          "streaming.validate_batch.state_files",
          "streaming.validate_batch.state_bytes_written",
          "streaming.distinct_batch.jobs",
          "streaming.distinct_batch.state_files",
          "streaming.distinct_batch.state_bytes_written")


def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: v["value"] for k, v in result["metrics"].items() if k in COUNTS}


@pytest.mark.parametrize("workload", ["build", "query"])
def test_traced_counts_repeat(workload):
    first, second = _traced(workload, 1), _traced(workload, 1)
    assert first == second
    assert first["spark.jobs"] > 0
