"""North-rule pipeline tests: determinism, invariants, ER correctness,
checkpoint/resume with lineage (SURVEY.md §5 our-test-plan items c/d)."""

import re

import pyspark.sql.functions as F
import pytest

from kgloom.transcripts.er import canonical_map, connected_components
from kgloom.transcripts.generate import generate_transcripts
from kgloom.transcripts.mentions import (MENTION_PATTERN, detect_mentions,
                                         normalize_surface)
from kgloom.transcripts.pipeline import TranscriptPipeline, ordered_turns

N_TURNS = 3000


@pytest.fixture(scope="module")
def turns(spark):
    return generate_transcripts(spark, N_TURNS, n_convs=50,
                                n_entities=40).cache()


def test_schema_matches_input_hint(turns):
    # conv_id:string, turn_idx:int32, role:string, text:string,
    # tool:string, ts:timestamp (BASELINE.json input_hint)
    fields = {f.name: f.dataType.simpleString() for f in turns.schema.fields}
    assert fields == {"conv_id": "string", "turn_idx": "int",
                      "role": "string", "text": "string",
                      "tool": "string", "ts": "timestamp"}


def test_generator_deterministic_across_parallelism(spark, turns):
    a = set(map(tuple, turns.collect()))
    b = set(map(tuple, generate_transcripts(
        spark, N_TURNS, n_convs=50, n_entities=40, partitions=3).collect()))
    assert a == b


def test_conv_skew_exists(turns):
    counts = [r["count"] for r in
              turns.groupBy("conv_id").count().collect()]
    assert max(counts) > 5 * (sum(counts) / len(counts))  # hot conv


def test_ts_monotone_within_conversation(turns):
    from pyspark.sql.window import Window
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    bad = (turns.withColumn("prev", F.lag("ts").over(w))
           .where(F.col("prev").isNotNull() & (F.col("ts") <= F.col("prev")))
           .count())
    assert bad == 0


def test_mention_detection_matches_driver_regex(spark, turns):
    """The Catalyst rows equal the same pattern run by Python's ``re``
    over the collected turns, occurrence for occurrence."""
    got = detect_mentions(turns)
    rows = sorted(map(tuple, got.collect()))
    want = sorted(
        (t.conv_id, t.turn_idx, s, re.sub("[^0-9]", "", s.lower()))
        for t in turns.select("conv_id", "turn_idx", "text").collect()
        for s in re.findall(MENTION_PATTERN, t.text or ""))
    assert len(rows) > N_TURNS  # ≥1 mention/turn, some have 2
    assert rows == want
    # every mention normalizes to a digit key
    assert got.where(~F.col("norm_key").rlike("^[0-9]+$")).count() == 0


@pytest.mark.parametrize("driver_max_edges", [2_000_000, 0],
                         ids=["driver-unionfind", "iterative-joins"])
def test_connected_components_basic(spark, driver_max_edges):
    """Both CC strategies (size-gated driver union-find and distributed
    iterative min-label joins) must agree."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p2"),
         ("m", "n"), ("n", "o"), ("o", "a")],  # chain joining into a's comp
        ["src", "dst"])
    comp = {r.node: r.component
            for r in connected_components(
                edges, driver_max_edges=driver_max_edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == comp["m"] == \
        comp["n"] == comp["o"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert comp["p"] == comp["p2"] == "p"


def test_connected_components_deep_chain_distributed(spark):
    """Regression: the distributed CC path must label a component whose
    DIAMETER exceeds the round budget — plain min-label propagation is
    O(diameter) and silently split a 101-node chain into 81 components
    at max_iter=20; the pointer-jump rounds (label ← label(label)) are
    O(log diameter) and converge in ~7."""
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(100)],
        ["src", "dst"])
    out = connected_components(edges, driver_max_edges=0).collect()
    assert {r.component for r in out} == {"n000"}
    assert len(out) == 101


def test_connected_components_raises_at_round_cap(spark):
    """A distributed CC run that still changes labels at ``max_iter``
    raises instead of returning labels that would merge further: the
    101-node chain needs ~7 pointer-jump rounds, not 1."""
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(100)],
        ["src", "dst"])
    with pytest.raises(RuntimeError, match="max_iter"):
        connected_components(edges, max_iter=1, driver_max_edges=0)


def test_canonical_map_driver_and_distributed_agree(spark, turns):
    """The size-gated driver ER path and the distributed blocking +
    iterative-CC path must produce identical surface→canonical maps."""
    mentions = detect_mentions(turns)
    driver = {(r.surface, r.canonical)
              for r in canonical_map(mentions).collect()}
    distributed = {(r.surface, r.canonical)
                   for r in canonical_map(
                       mentions, driver_max_surfaces=0).collect()}
    assert driver == distributed


def test_canonical_map_agreement_on_adversarial_surfaces(spark):
    """The driver-side Python twin of link_score/build_edges and the
    Catalyst implementation must agree beyond the generator grammar:
    hub ties, anagram norm-keys (12 vs 21 — candidates that must NOT
    merge), sub-threshold score variants, unicode surfaces, surfaces
    whose digits don't match their key (score 0), and empty keys."""
    rows = [
        # two variants of entity 12 (merge) + anagram entity 21 (don't)
        ("c1", 0, "Entity_12", "12"), ("c1", 1, "entity 12", "12"),
        ("c1", 2, "Entity_21", "21"),
        # hub tie: two lexicographically adjacent surfaces, same key
        ("c2", 0, "E-7", "7"), ("c2", 1, "E-7", "7"), ("c2", 2, "entity 7", "7"),
        # sub-threshold: unknown-prefix surface scores 0.85 (kept at 0.5
        # threshold, dropped at 0.9 — exercised at both thresholds)
        ("c3", 0, "ref 33", "33"), ("c3", 1, "Entity_33", "33"),
        # digits don't match the key → score 0, always a singleton
        ("c4", 0, "Entity_99", "77"),
        # unicode surface + digits, and an empty norm key
        ("c5", 0, "Entité_5", "5"), ("c5", 1, "Entity_5", "5"),
        ("c6", 0, "no digits", ""),
    ]
    mentions = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, surface string, norm_key string")
    for threshold in (0.5, 0.9):
        driver = {(r.surface, r.canonical)
                  for r in canonical_map(
                      mentions, score_threshold=threshold).collect()}
        distributed = {(r.surface, r.canonical)
                       for r in canonical_map(
                           mentions, score_threshold=threshold,
                           driver_max_surfaces=0).collect()}
        assert driver == distributed, (threshold, driver ^ distributed)
    # semantic spot checks at the default threshold
    cmap = dict(driver)  # threshold 0.9 from the last loop iteration
    low = {(r.surface, r.canonical)
           for r in canonical_map(mentions, score_threshold=0.5).collect()}
    low_map = dict(low)
    assert low_map["Entity_12"] == low_map["entity 12"]
    assert low_map["Entity_21"] != low_map["Entity_12"]  # anagram keys split
    assert low_map["ref 33"] == low_map["Entity_33"]     # 0.85 ≥ 0.5
    assert cmap["ref 33"] != cmap["Entity_33"]           # 0.85 < 0.9
    assert low_map["Entity_99"] == "Entity_99"           # mismatch → singleton


def test_entity_resolution_ground_truth(spark, turns):
    """All surface variants of entity k must canonicalize together —
    the generator's grammar is the ground truth."""
    mentions = detect_mentions(turns)
    cmap = canonical_map(mentions)
    check = (cmap
             .withColumn("true_key", normalize_surface(F.col("surface")))
             .withColumn("canon_key", normalize_surface(F.col("canonical"))))
    # correct: same true entity ⇒ same canonical (no splits)
    splits = (check.groupBy("true_key")
              .agg(F.countDistinct("canonical").alias("n"))
              .where(F.col("n") > 1).count())
    assert splits == 0
    # no merges across different true entities
    merges = (check.groupBy("canonical")
              .agg(F.countDistinct("true_key").alias("n"))
              .where(F.col("n") > 1).count())
    assert merges == 0


def test_pipeline_end_to_end_and_resume(spark, turns, tmp_path):
    pipe = TranscriptPipeline(spark, str(tmp_path / "store"),
                              shuffle_partitions=8)
    res = pipe.run(transcripts=turns)
    assert res.metrics["triples"] > 3 * N_TURNS  # ≥3 triples/turn + mentions
    assert res.metrics["mentions"] > 0 and res.metrics["entities"] > 0

    # per-turn text equality under stable (conv_id, turn_idx) ordering:
    # round-trip the text triples back and compare
    text_triples = res.triples.where(
        F.col("pred") == "<http://kg.example/ontology/text>")
    got = [r.obj for r in ordered_turns(
        text_triples.withColumn("conv_id", F.regexp_extract(
            "subj", r"conv/(.+?)/turn", 1))
        .withColumn("turn_idx", F.regexp_extract(
            "subj", r"turn/([0-9]+)>", 1).cast("int"))).collect()]
    want = ['"' + r.text.replace("\\", "\\\\").replace('"', '\\"') + '"'
            for r in ordered_turns(turns).collect()]
    assert got == want

    # resume: snapshots unchanged ⇒ same snapshot ids reused
    res2 = pipe.run(resume=True)
    assert res2.metrics["snapshots"] == res.metrics["snapshots"]

    # manifests carry lineage + per-partition metrics
    snap = pipe.store.latest("triples")
    assert snap.manifest["parents"] == [
        res.metrics["snapshots"]["transcripts"],
        res.metrics["snapshots"]["mentions"],
        res.metrics["snapshots"]["entities"]]
    assert sum(snap.manifest["partition_row_counts"].values()) == \
        snap.manifest["row_count"]


def test_pipeline_deterministic_across_parallelism(spark, turns, tmp_path):
    """Same triples regardless of partitioning (scaling invariance)."""
    p1 = TranscriptPipeline(spark, str(tmp_path / "s1"), shuffle_partitions=4)
    p2 = TranscriptPipeline(spark, str(tmp_path / "s2"), shuffle_partitions=16)
    r1 = p1.run(transcripts=turns.repartition(2))
    r2 = p2.run(transcripts=turns.repartition(13))
    a = set(map(tuple, r1.triples.collect()))
    b = set(map(tuple, r2.triples.collect()))
    assert a == b


def test_pipeline_closure_stage_resume_and_invalidation(spark, turns,
                                                        tmp_path):
    """The optional RDFS-closure stage checkpoints like every other
    stage: re-running with the same ontology resumes the snapshot;
    editing the ontology (content hash in the lineage) rebuilds it."""
    from kgloom.ops.reasoning import RDF_TYPE, RDFS_DOMAIN
    KGO = "http://kg.example/ontology/"
    ont = spark.createDataFrame(
        [(f"<{KGO}usedTool>", RDFS_DOMAIN, f"<{KGO}ToolTurn>")],
        "subj string, pred string, obj string")
    pipe = TranscriptPipeline(spark, str(tmp_path / "store"),
                              shuffle_partitions=8)
    res = pipe.run(transcripts=turns, ontology=ont)
    assert res.closure is not None
    assert res.metrics["closure_triples"] > res.metrics["triples"]
    n_types = res.closure.where(F.col("pred") == RDF_TYPE).count()
    assert n_types > 0

    res2 = pipe.run(resume=True, ontology=ont)
    assert res2.metrics["snapshots"]["closure"] == \
        res.metrics["snapshots"]["closure"]

    ont2 = ont.unionByName(spark.createDataFrame(
        [(f"<{KGO}partOf>", RDFS_DOMAIN, f"<{KGO}Turn>")],
        "subj string, pred string, obj string"))
    res3 = pipe.run(resume=True, ontology=ont2)
    assert res3.metrics["snapshots"]["closure"] != \
        res.metrics["snapshots"]["closure"]
    assert res3.metrics["snapshots"]["triples"] == \
        res.metrics["snapshots"]["triples"]  # upstream stages untouched


def test_pipeline_provenance_stage(spark, turns, tmp_path):
    """with_provenance=True adds a checkpointed RDF-star annotation
    stage: one << s p o >> kg:fromSnapshot "snap" triple per triple,
    keyed to the triples snapshot id, SPARQL-star queryable."""
    from kgloom.transcripts.pipeline import TranscriptPipeline
    pipe = TranscriptPipeline(spark, str(tmp_path / "store"),
                              shuffle_partitions=8)
    res = pipe.run(transcripts=turns, with_provenance=True)
    assert res.metrics["provenance_triples"] == res.metrics["triples"]
    ann = pipe.store.read("provenance")
    t_snap = res.metrics["snapshots"]["triples"]
    row = ann.limit(1).collect()[0]
    assert row.subj.startswith("<< ") and row.subj.endswith(" >>")
    assert row.obj == f'"{t_snap}"'
    # star-queryable: count annotations for partOf statements
    from kgloom.sparql import sparql_select
    n = sparql_select(ann, """
        PREFIX kg: <http://kg.example/ontology/>
        SELECT (COUNT(?s) AS ?n) WHERE {
          << ?s kg:partOf ?c >> kg:fromSnapshot ?snap .
        }
    """).collect()[0].n
    assert n == res.triples.where(
        F.col("pred") == "<http://kg.example/ontology/partOf>").count()
    # resume reuses the snapshot
    res2 = pipe.run(resume=True, with_provenance=True)
    assert res2.metrics["snapshots"]["provenance"] == \
        res.metrics["snapshots"]["provenance"]
