"""The north-rule KG-construction pipeline over transcript tables.

Stages (each one checkpoints to a SnapshotStore snapshot with lineage +
metrics, and resumes from its snapshot when inputs are unchanged):

1. ``transcripts`` — ingest (or synthesize) the transcript table;
   salted repartition on (conv_id, salt) to defuse hot-conversation
   skew before downstream work.
2. ``mentions``   — batched mention detection (Catalyst regex path or
   Arrow pandas-UDF path) + normalization.
3. ``entities``   — entity resolution: two-stage blocking + iterative
   hash-join connected components → surface → canonical map.
4. ``triples``    — turn triples built through the *operator algebra*
   (Source → Project → Extend → Serialize, the same plan shape the RML
   corpus runs) unioned with mention triples (canonical-entity join);
   distinct; partitioned write.

Scale notes: mention detection and term construction are narrow
(no shuffle); the only shuffles are the ER node/edge joins (keyed on
surface, AQE-sized), the canonical-map join (broadcast when small —
AQE decides), and the final distinct.  The canonical map is orders of
magnitude smaller than the mention stream (distinct surfaces), so the
join is broadcastable even at 10^12 turns.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field as dc_field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..algebra import (
    DataFormat,
    ExtendOp,
    Function,
    IOType,
    ProjectOp,
    SerializerOp,
    SourceIterator,
    SourceOp,
    TargetOp,
    ReferenceFormulation,
)
from ..exec.binder import SparkBinder, write_sinks
from ..plan import Plan
from ..tables import SnapshotStore
from .er import canonical_map
from .generate import generate_transcripts
from .mentions import detect_mentions, normalize_surface

KG = "http://kg.example/"

TURN_TEMPLATE = KG + "conv/{conv_id}/turn/{turn_idx}"


def turn_triples_plan() -> Plan:
    """Turn-level triples as an operator-algebra plan — the same
    Source → Project → Extend → Serialize shape the reference compiles
    for RML mappings (SURVEY.md §2), over the transcripts schema."""
    g = Plan()
    plan = g.source(SourceOp.make(
        {"source": "transcripts"}, IOType.DATAFRAME,
        SourceIterator(reference_formulation=ReferenceFormulation.TABLE)))
    plan = plan.apply(ProjectOp(projection_attributes=frozenset(
        {"conv_id", "turn_idx", "role", "text", "tool", "ts"})), "Projection")

    def iri_const(v: str) -> Function:
        return Function.iri(Function.constant(v))

    extend = ExtendOp.make({
        "turn": Function.iri(Function.uri_encode(
            Function.template(TURN_TEMPLATE))),
        "conv": Function.iri(Function.uri_encode(
            Function.template(KG + "conv/{conv_id}"))),
        "p_partof": iri_const(KG + "ontology/partOf"),
        "p_role": iri_const(KG + "ontology/role"),
        "p_text": iri_const(KG + "ontology/text"),
        "p_tool": iri_const(KG + "ontology/usedTool"),
        "o_role": Function.literal(Function.reference("role")),
        "o_text": Function.literal(Function.reference("text")),
        "o_tool": Function.iri(Function.uri_encode(
            Function.template(KG + "tool/{tool}"))),
    })
    plan = plan.apply(extend, "Extend")
    template = "\n".join([
        "?turn ?p_partof ?conv .",
        "?turn ?p_role ?o_role .",
        "?turn ?p_text ?o_text .",
        "?turn ?p_tool ?o_tool .",  # tool null ⇒ suppressed (non-tool turns)
    ])
    # (conv_id, turn_idx) is the transcript table's key and each template
    # line has a distinct predicate ⇒ rows are unique by construction; the
    # RDF-set dedup shuffle (8M+ wide strings at 2M turns) is skipped
    plan = plan.serialize(SerializerOp(template=template,
                                       format=DataFormat.NQUADS,
                                       options=(("distinct", "false"),)))
    return plan.sink(TargetOp.make({}, IOType.DATAFRAME, DataFormat.NQUADS))


def construct_triples(spark: SparkSession, turns: DataFrame,
                      mentions: Optional[DataFrame] = None,
                      entities: Optional[DataFrame] = None) -> DataFrame:
    """The triple-stage dataflow as one plan: algebra-built turn
    triples unioned with canonical-entity mention triples.  The
    checkpointed pipeline passes snapshot-read ``mentions``/``entities``;
    compute-only callers (scaling measurement, ad-hoc construction)
    omit them and get the full dataflow with no snapshot I/O.

    Mention triples dedup on the narrow natural key BEFORE term
    construction: the RDF-set shuffle moves (conv_id, turn_idx, digits)
    rows instead of three fully-formatted IRI strings per row — same
    output set, a fraction of the shuffle bytes.  conv_id is
    percent-encoded with the SAME encoder the turn-triples plan applies
    to its template substitutions, so (a) mention subjects always equal
    turn subjects for the same turn and (b) the IRI formatting is
    injective in (conv_id, turn_idx) even when an externally ingested
    conv_id contains '/turn/' — the narrow-key distinct therefore
    equals a post-format distinct on every input.  Turn triples are
    already distinct (serializer RDF set semantics) and share no
    predicate with mention triples, so the union is distinct by
    construction — no extra shuffle."""
    from ..exec.functions import uri_encode
    if mentions is None:
        mentions = detect_mentions(turns)
    if entities is None:
        entities = canonical_map(mentions)
    binder = SparkBinder(spark, dataframes={"transcripts": turns})
    results = binder.execute(turn_triples_plan().graph)
    turn_triples = list(write_sinks(results).values())[0]
    mention_triples = (
        mentions.join(entities, "surface")
        .select("conv_id", "turn_idx",
                normalize_surface(F.col("canonical")).alias("ent"))
        .distinct()
        .select(
            F.concat(F.lit(f"<{KG}conv/"), uri_encode(F.col("conv_id")),
                     F.lit("/turn/"), F.col("turn_idx"),
                     F.lit(">")).alias("subj"),
            F.lit(f"<{KG}ontology/mentions>").alias("pred"),
            F.concat(F.lit(f"<{KG}entity/"), F.col("ent"),
                     F.lit(">")).alias("obj"),
            F.lit(None).cast("string").alias("graph")))
    return turn_triples.unionByName(mention_triples)


@dataclass
class PipelineResult:
    triples: DataFrame
    metrics: dict = dc_field(default_factory=dict)
    closure: Optional[DataFrame] = None


class TranscriptPipeline:
    def __init__(self, spark: SparkSession, store_root: str,
                 shuffle_partitions: Optional[int] = None,
                 salt_buckets: int = 16):
        self.spark = spark
        self.store = SnapshotStore(spark, store_root)
        self.salt_buckets = salt_buckets
        if shuffle_partitions:
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(shuffle_partitions))
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    # -- stage helpers -----------------------------------------------------
    def _stage(self, name: str, parents: list[str], build,
               resume: bool, partition_by: Optional[list[str]] = None,
               metrics: Optional[dict] = None):
        """Run one stage with checkpoint/resume-by-lineage: reuse the
        snapshot iff it exists AND its recorded parent snapshot ids
        match the current upstream snapshot ids."""
        snap = self.store.latest(name)
        if resume and snap is not None and snap.manifest.get("parents") == parents:
            return snap
        t0 = time.time()
        df = build()
        extra = dict(metrics or {})
        extra["build_seconds"] = round(time.time() - t0, 3)
        return self.store.write(name, df, parents=parents,
                                partition_by=partition_by,
                                extra_metrics=extra)

    # -- pipeline ----------------------------------------------------------
    def ingest(self, transcripts, resume: bool = False):
        """Stage 1.  A path string is linked zero-copy (inputs are
        already tables — never rewritten, Iceberg add_files-style); a
        DataFrame is materialized with a salted repartition on
        (conv_id, salt) to defuse hot-conversation skew."""
        if isinstance(transcripts, str):
            snap = self.store.latest("transcripts")
            if resume and snap is not None and \
                    snap.manifest.get("external_path") == \
                    __import__("os").path.abspath(transcripts):
                return snap
            return self.store.link_external("transcripts", transcripts)

        def build():
            salt = (F.abs(F.xxhash64(F.col("turn_idx"), F.lit("salt")))
                    % self.salt_buckets).alias("salt")
            n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            # salted repartition: hot conversations spread over
            # salt_buckets partitions instead of one
            return (transcripts.withColumn("salt", salt)
                    .repartition(n, "conv_id", "salt")
                    .drop("salt"))
        return self._stage("transcripts", parents=[], build=build,
                           resume=resume)

    def run(self, transcripts: Optional[DataFrame] = None,
            resume: bool = False, with_nquads: bool = False,
            ontology: Optional[DataFrame] = None,
            with_provenance: bool = False) -> PipelineResult:
        """Run (or resume) the staged pipeline.  ``ontology`` — an
        optional (subj, pred, obj) schema-triple DataFrame; when given,
        a fifth checkpointed stage materializes the RDFS ρdf closure of
        the triple stage under it (kgloom/ops/reasoning.py) and the
        result carries it as ``.closure``.  ``with_provenance`` adds a
        checkpointed RDF-star annotation stage
        (``<< s p o >> kg:fromSnapshot "<triples snapshot id>"``).  The closure stage's lineage
        includes a content hash of the ontology, so editing the
        ontology invalidates the snapshot while a mere re-run resumes."""
        t_start = time.time()
        if transcripts is not None:
            in_snap = self.ingest(transcripts, resume=resume)
        else:
            in_snap = self.store.latest("transcripts")
            if in_snap is None:
                raise FileNotFoundError(
                    "no transcripts snapshot; pass transcripts= or ingest()")

        turns = self.store.read("transcripts")

        m_snap = self._stage(
            "mentions", parents=[in_snap.snapshot_id],
            build=lambda: detect_mentions(turns),
            resume=resume)
        mentions = self.store.read("mentions")

        e_snap = self._stage(
            "entities", parents=[m_snap.snapshot_id],
            build=lambda: canonical_map(mentions),
            resume=resume)
        entities = self.store.read("entities")

        def build_triples():
            return construct_triples(self.spark, turns,
                                     mentions=mentions, entities=entities)

        t_snap = self._stage("triples",
                             parents=[in_snap.snapshot_id,
                                      m_snap.snapshot_id,
                                      e_snap.snapshot_id],
                             build=build_triples, resume=resume)
        triples = self.store.read("triples")

        metrics = {
            "turns": in_snap.manifest["row_count"],
            "mentions": m_snap.manifest["row_count"],
            "entities": e_snap.manifest["row_count"],
            "triples": t_snap.manifest["row_count"],
            "wall_seconds": round(time.time() - t_start, 3),
            "snapshots": {
                "transcripts": in_snap.snapshot_id,
                "mentions": m_snap.snapshot_id,
                "entities": e_snap.snapshot_id,
                "triples": t_snap.snapshot_id,
            },
        }
        closure = None
        if ontology is not None:
            from ..ops.reasoning import rdfs_closure
            # one-row aggregate; only a 32-char digest reaches the driver
            ont_hash = ontology.agg(F.md5(F.concat_ws("\n", F.sort_array(
                F.collect_list(F.concat_ws("\t", "subj", "pred", "obj"))))
            ).alias("h")).collect()[0].h
            c_snap = self._stage(
                "closure",
                parents=[t_snap.snapshot_id, f"ontology:{ont_hash}"],
                build=lambda: rdfs_closure(
                    triples.select("subj", "pred", "obj"),
                    schema=ontology, include_schema=True),
                resume=resume)
            closure = self.store.read("closure")
            metrics["closure_triples"] = c_snap.manifest["row_count"]
            metrics["snapshots"]["closure"] = c_snap.snapshot_id
        if with_provenance:
            # statement-level lineage as RDF-star: every triple of the
            # committed triples snapshot is annotated
            # << s p o >> kg:fromSnapshot "snap-id" — auditable
            # provenance that travels WITH the graph (serializable,
            # star-queryable via SPARQL-star), keyed to the exact
            # snapshot so incremental re-runs yield distinguishable
            # annotation sets.  Map-side string work only.
            from ..ops.star import annotate
            p_snap = self._stage(
                "provenance", parents=[t_snap.snapshot_id],
                build=lambda: annotate(
                    triples.select("subj", "pred", "obj"),
                    f"<{KG}ontology/fromSnapshot>",
                    F.lit(f'"{t_snap.snapshot_id}"')),
                resume=resume)
            metrics["provenance_triples"] = p_snap.manifest["row_count"]
            metrics["snapshots"]["provenance"] = p_snap.snapshot_id
        if with_nquads:
            from ..exec.binder import to_nquads_lines
            self._stage("nquads", parents=[t_snap.snapshot_id],
                        build=lambda: to_nquads_lines(triples),
                        resume=resume)
        return PipelineResult(triples=triples, metrics=metrics,
                              closure=closure)


def ordered_turns(df: DataFrame) -> DataFrame:
    """Stable (conv_id, turn_idx) ordering — the per-turn text-equality
    invariant is checked under this order (BASELINE.json input_hint)."""
    return df.orderBy("conv_id", "turn_idx")


def main() -> None:
    import argparse
    import json
    p = argparse.ArgumentParser(description="north-rule transcript KG pipeline")
    p.add_argument("--turns", type=int, default=100_000)
    p.add_argument("--convs", type=int, default=1000)
    p.add_argument("--root", default="/tmp/kgloom_pipeline")
    p.add_argument("--master", default="local[*]")
    p.add_argument("--shuffle-partitions", type=int, default=32)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--driver-memory", default="24g")
    args = p.parse_args()

    spark = (SparkSession.builder.master(args.master)
             .appName("kgloom-transcripts")
             .config("spark.sql.shuffle.partitions",
                     str(args.shuffle_partitions))
             .config("spark.driver.memory", args.driver_memory)
             .config("spark.ui.enabled", "false")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    pipe = TranscriptPipeline(spark, args.root,
                              shuffle_partitions=args.shuffle_partitions)
    transcripts = None if args.resume else generate_transcripts(
        spark, args.turns, n_convs=args.convs)
    result = pipe.run(transcripts=transcripts, resume=args.resume)
    print(json.dumps(result.metrics))
    spark.stop()


if __name__ == "__main__":
    main()
