"""Physical-plan quality gates — the scale story, asserted.

These tests read `.explain` output (and executed plans) to pin down
properties that matter at 100 TB: column pruning reaching the parquet
scan, broadcasts on small sides, scan sharing across plan branches, and
no Python evaluation nodes in the default triple hot path.
"""

import glob
import os

import pytest
from pyspark.sql import functions as F

from conftest import REFERENCE, requires_reference


def explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


SF = "/root/testdata/sf0.001"


def test_projection_reaches_parquet_scan(spark):
    """kg_extend_template projects 3 of 5 customer columns — the scan's
    ReadSchema must not include the others."""
    import __spark_entry__ as em
    df = em.queries()["kg_extend_template"](spark, SF)
    plan = explain_str(df)
    assert "c_custkey" in plan
    assert "c_acctbal" not in plan and "c_nationkey" not in plan


def test_no_python_eval_in_default_triple_path(spark):
    """Percent-encoding is Catalyst: the triple path must show no
    ArrowEvalPython/BatchEvalPython nodes."""
    import __spark_entry__ as em
    df = em.queries()["kg_extend_template"](spark, SF)
    plan = explain_str(df)
    assert "EvalPython" not in plan


def test_similarity_broadcasts_query_side(spark):
    from kgloom.ops.similarity import cosine_topk
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = explain_str(cosine_topk(emb, k=3, query_ids=[0, 1]))
    assert "Broadcast" in plan


@requires_reference
def test_scan_sharing_across_branches(spark):
    """Two TriplesMaps over one logical source bind to ONE DataFrame
    (scan sharing — reference does this at plan level,
    shexml/operators/source.rs:72-98)."""
    from kgloom.engine import compile_rml
    from kgloom.exec.binder import SparkBinder
    ttl = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix foaf: <http://xmlns.com/foaf/0.1/> .
@base <http://example.com/base/> .
<TM1> a rr:TriplesMap;
  rml:logicalSource [ rml:source "student.csv"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.com/{ID}" ];
  rr:predicateObjectMap [ rr:predicate foaf:name;
                          rr:objectMap [ rml:reference "Name" ] ] .
<TM2> a rr:TriplesMap;
  rml:logicalSource [ rml:source "student.csv"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.com/n/{Name}" ];
  rr:predicateObjectMap [ rr:predicate foaf:nick;
                          rr:objectMap [ rml:reference "Name" ] ] .
"""
    compiled = compile_rml(ttl)
    binder = SparkBinder(
        spark, base_dir=f"{REFERENCE}/resources/csv-testcases/RMLTC0008b-CSV")
    seen = {}
    orig = binder._bind_source

    def counting(op):
        res = orig(op)
        seen[op.config] = seen.get(op.config, 0) + 1
        return res
    binder._bind_source = counting
    binder.execute(compiled.graph)
    # 2 TriplesMaps, 1 underlying source ⇒ exactly one bind per config
    assert all(v == 1 for v in seen.values()) and len(seen) == 1


def test_join_sides_not_deduplicated(spark):
    """Neither side of the ref-object join is deduplicated: the
    optimized plan holds ONE Aggregate, the run's RDF-set distinct,
    above the Join and none below it (a dedup of the parent side would
    be one more shuffle for a set that distinct establishes anyway)."""
    import __spark_entry__ as em
    df = em.queries()["kg_join_refobject"](spark, SF)
    lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
    depth = [len(ln) - len(ln.lstrip(" :+-")) for ln in lines]
    ops = [ln.lstrip(" :+-").split(" ")[0] for ln in lines]
    aggs = [i for i, op in enumerate(ops) if op == "Aggregate"]
    joins = [i for i, op in enumerate(ops) if op == "Join"]
    assert len(aggs) == 1 and len(joins) == 1, lines
    # the Aggregate is an ancestor of the Join: every line from it down
    # to the Join is nested deeper than the Aggregate
    (a,), (j,) = aggs, joins
    assert a < j and all(d > depth[a] for d in depth[a + 1:j + 1]), lines


RML_FIXTURES = sorted(os.path.dirname(p) for p in glob.glob(os.path.join(
    os.path.dirname(__file__), "fixtures", "rml", "*", "output.nq")))


@pytest.mark.parametrize("case", RML_FIXTURES,
                         ids=[os.path.basename(c) for c in RML_FIXTURES])
def test_fixture_plan_reads_every_output_once(case):
    """Every FragmentOp of a compiled fixture mapping splits into at
    least 2 outputs, each read by exactly one edge, and every other
    operator feeds exactly one edge: no fragment output is left unread
    and no output is read twice without a FragmentOp.  The one
    exception is the Projection of a triples map that no branch reads
    (the parent of a same-row reference with no triples of its own):
    every triples map keeps its Source → Projection, as in the
    reference (mod.rs:314-428)."""
    from kgloom.algebra import FragmentOp, ProjectOp, TargetOp
    from kgloom.engine import compile_rml
    with open(f"{case}/mapping.ttl", encoding="utf-8") as f:
        graph = compile_rml(f.read()).graph
    for node in graph.nodes.values():
        op, out = node.operator, graph.successors(node.id)
        if isinstance(op, FragmentOp):
            assert len(op.to_fragments) >= 2, node.id
            assert sorted(e.fragment for e in out) == \
                sorted(op.to_fragments), (node.id, out)
        elif isinstance(op, ProjectOp) and not out:
            continue
        elif not isinstance(op, TargetOp):
            assert len(out) == 1, (node.id, out)


def test_aqe_enabled_in_pipeline(spark, tmp_path):
    from kgloom.transcripts.pipeline import TranscriptPipeline
    TranscriptPipeline(spark, str(tmp_path))
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_sparql_constant_filters_push_to_parquet_scan(spark, tmp_path):
    """A SPARQL pattern's constant predicate becomes a parquet
    PushedFilters entry when the quads come from storage — the BGP is
    declarative, so Catalyst pushes it into the scan."""
    from kgloom.sparql import sparql_select
    rows = [("<http://e/s%d>" % i, "<http://e/p%d>" % (i % 3),
             '"v%d"' % i, None) for i in range(30)]
    spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string") \
        .write.mode("overwrite").parquet(str(tmp_path / "quads"))
    quads = spark.read.parquet(str(tmp_path / "quads"))
    df = sparql_select(quads,
                       "SELECT ?s ?o WHERE { ?s <http://e/p1> ?o . }")
    plan = explain_str(df)
    assert "PushedFilters" in plan and "http://e/p1" in plan


def test_sparql_bgp_join_is_jvm_only(spark):
    """The BGP join plan contains no Python eval nodes — term matching
    and the variable join are pure Catalyst."""
    from kgloom.sparql import sparql_select
    rows = [("<http://e/s>", "<http://e/p>", '"v"', None)]
    quads = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string")
    df = sparql_select(quads, """
        SELECT ?s ?o WHERE { ?s <http://e/p> ?o ; <http://e/q> ?o . }
    """)
    assert "EvalPython" not in explain_str(df)


def test_rdfs_closure_broadcasts_schema_and_stays_jvm(spark):
    """Every instance-side rule join in the RDFS closure must broadcast
    the (tiny) schema side, and the whole plan must stay JVM-only —
    no Python evaluation anywhere in the reasoning path."""
    import __spark_entry__ as em
    df = em.queries()["reason_rdfs_closure"](spark, SF)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "EvalPython" not in plan
    # no sort-merge join should appear: all rule joins are
    # schema-broadcasts, the only wide exchange is the final distinct
    assert "SortMergeJoin" not in plan


def test_shacl_validate_single_scan_no_python(spark):
    """The SHACL report is codegen-only (no Python nodes) and the
    focus×path count grid broadcasts its tiny path relation."""
    import __spark_entry__ as em
    df = em.queries()["reason_shacl"](spark, SF)
    plan = explain_str(df)
    assert "EvalPython" not in plan
    assert "Broadcast" in plan


def test_triangle_count_jvm_only_no_cartesian(spark):
    """The triangle plan is pure Catalyst (no Python eval) and every
    join is keyed — no cartesian/broadcast-nested-loop blowup from the
    wedge self-join."""
    from kgloom.ops.graph import triangle_count
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")],
        "src string, dst string")
    plan = explain_str(triangle_count(e))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_training_ops_family_jvm_only(spark):
    """Round-4 training-data ops stay on the JVM: negative sampling,
    quality logit, RRF fusion, hard negatives, and the bigram LM show
    no Python evaluation nodes; the quality logit is map-only (zero
    exchanges — the signal projection and the fold fuse into the
    scan stage)."""
    import __spark_entry__ as em
    q = em.queries()
    for name in ("kg_negative_samples", "text_quality_logit",
                 "retrieval_hybrid_rrf", "ann_hard_negatives",
                 "text_bigram_lm", "graph_kcore"):
        plan = explain_str(q[name](spark, SF))
        assert "EvalPython" not in plan, name
    logit_plan = explain_str(q["text_quality_logit"](spark, SF))
    assert "Exchange" not in logit_plan


def test_hard_negative_band_filters_before_window(spark):
    """The cosine band must prune pairs BEFORE the per-query ranking
    window: the physical plan's Window node sits above a Filter that
    carries the band predicate, and the only join is the broadcast
    query-side cross join (no shuffled join of the corpus)."""
    from kgloom.ops.similarity import hard_negative_pairs
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.8, 0.6]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    df = hard_negative_pairs(emb, lo=0.25, hi=0.95, k=5)
    plan = explain_str(df)
    # the band predicate is folded into the broadcast join condition
    # itself — evaluated per candidate pair, before anything shuffles
    bnl_detail = plan.split("BroadcastNestedLoopJoin")[-1]
    assert "0.25" in bnl_detail and "0.95" in bnl_detail
    # Spark 4 pushes the rank<=k limit into the window sort
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan


def test_round5_session2_ops_jvm_only(spark):
    """The session's new operator families stay in codegen: JSON-LD
    rendering, RDF-star quote/decompose + SPARQL-star matching, DSIR
    weighting, repeated-span detection, Allen classification — no
    Python evaluation nodes anywhere."""
    import __spark_entry__ as em
    qs = em.queries()
    for name in ["kg_jsonld_render", "kg_rdfstar_annotate",
                 "sparql_kg_star", "curate_dsir",
                 "dedup_substring_spans", "kg_allen_relations"]:
        plan = explain_str(qs[name](spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_dsir_broadcasts_lambda_table(spark):
    """The per-bucket log-ratio table is bounded (n_buckets rows) and
    must ride the per-document weight join as a broadcast — the only
    scalable shape for a corpus-scale weight pass."""
    import __spark_entry__ as em
    plan = explain_str(em.queries()["curate_dsir"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_merge_upsert_no_cartesian(spark):
    """MERGE INTO = anti join on the merge key + union; never a
    cartesian/nested-loop product."""
    import __spark_entry__ as em
    plan = explain_str(em.queries()["kg_merge_upsert"](spark, SF))
    assert "CartesianProduct" not in plan
