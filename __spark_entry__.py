"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator family from
SURVEY.md §2 (the reference's 8-operator mapping algebra, executed
through the kgloom plan binder) plus the beyond-reference
training-data-pipeline operators (dedup / similarity / text analysis)
and the north-rule transcript derivation.  Every entry has a matching
ANSI-SQL oracle in ``oracle_sql()`` — including simhash (exact O(n²)
Hamming oracle; the banded Spark result is provably equal for d+1
blocks) and the multimodal mapInPandas plumbing (the synthetic asset
table is regenerable in pure SQL).  ``queries()`` is derived: every
module-level ``q_<name>`` function is the query ``<name>``.

Derived inputs are built once per side.  The Spark queries share
``_entity_incidence`` / ``_comention_edges`` (the co-mention graph),
``_kg_edges`` (the turn KG's IRI→IRI edges), ``_turn_succession`` /
``_turn_dag`` (the turn-succession DAG), ``_turn_quads`` and
``_turn_kg_select`` (SPARQL over the turn KG; ``_KG_PREFIX`` declares
``kg:``).  The oracles share the CTE text ``_MENTION_CTES``,
``_kg_edges_sql``, ``_TURN_DAG_CTES`` / ``_turn_ball_ctes`` /
``_ball_estimate_ctes``, ``_TURN_TRIPLES_UNION`` and ``_SHINGLES_CTE``.  A
Spark helper and an oracle helper never share code or call each other:
each oracle is an independent SQL replay of what its query computes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kgloom.algebra import (
    DataFormat,
    ExtendOp,
    Function,
    IOType,
    ProjectOp,
    RenameOp,
    SerializerOp,
    SourceIterator,
    SourceOp,
    TargetOp,
    ReferenceFormulation,
    PredicateType,
)
from kgloom.exec.binder import SparkBinder, write_sinks
from kgloom.plan import Plan, join as plan_join
from kgloom.ops.curate import _hex_threshold
from kgloom.ops import dedup as D
from kgloom.ops import similarity as S
from kgloom.ops import textstats as T
from kgloom.transcripts.derive import TRANSCRIPTS_SQL, transcripts_from_events
from kgloom.transcripts.mentions import detect_mentions

EX = "http://example.com/"


def _table_source(name: str) -> SourceOp:
    return SourceOp.make({"source": name}, IOType.DATAFRAME,
                         SourceIterator(
                             reference_formulation=ReferenceFormulation.TABLE))


def _bind(spark: SparkSession, sf_dir: str, plan: Plan,
          tables: list[str]) -> DataFrame:
    dfs = {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in tables}
    binder = SparkBinder(spark, dataframes=dfs)
    results = binder.execute(plan.graph)
    out = list(write_sinks(results).values())
    assert len(out) == 1
    return out[0]


def _sink() -> TargetOp:
    return TargetOp.make({}, IOType.DATAFRAME, DataFormat.NQUADS)


# ---------------------------------------------------------------------------
# KG algebra queries (SourceOp/ProjectOp/ExtendOp/RenameOp/JoinOp/
# SerializerOp/TargetOp — SURVEY.md §2 rows 1-8)
# ---------------------------------------------------------------------------

def q_kg_extend_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExtendOp: template/constant/reference term functions + UriEncode
    (pandas UDF) + literal rendering, over `customer`."""
    g = Plan()
    p = g.source(_table_source("customer"))
    p = p.apply(ProjectOp(projection_attributes=frozenset(
        {"c_custkey", "c_name", "c_mktsegment"})), "Projection")
    p = p.apply(ExtendOp.make({
        "sm": Function.iri(Function.uri_encode(
            Function.template(EX + "customer/{c_custkey}"))),
        "p_name": Function.iri(Function.constant(EX + "ontology/name")),
        "o_name": Function.literal(Function.reference("c_name")),
        "p_seg": Function.iri(Function.constant(EX + "ontology/segment")),
        "o_seg": Function.iri(Function.uri_encode(
            Function.template(EX + "segment/{c_mktsegment}"))),
    }), "Extend")
    p = p.serialize(SerializerOp(
        template="?sm ?p_name ?o_name .\n?sm ?p_seg ?o_seg ."))
    p = p.sink(_sink())
    return _bind(spark, sf_dir, p, ["customer"]) \
        .select("subj", "pred", "obj")


def q_kg_join_refobject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JoinOp (inner equi, referencing-object-map shape): order subjects
    linked to customer subjects via o_custkey = join_1_c_custkey."""
    g = Plan()
    child = g.source(_table_source("orders"))
    child = child.apply(ProjectOp(projection_attributes=frozenset(
        {"o_orderkey", "o_custkey"})), "Projection")
    parent = Plan(child.graph).source(_table_source("customer"))
    parent = parent.apply(ProjectOp(projection_attributes=frozenset(
        {"c_custkey"})), "Projection")
    joined = plan_join(child, parent).alias("join_1") \
        .where_by(["o_custkey"]).compared_to(["c_custkey"])
    joined = joined.apply(ExtendOp.make({
        "sm": Function.iri(Function.uri_encode(
            Function.template(EX + "order/{o_orderkey}"))),
        "pm": Function.iri(Function.constant(EX + "ontology/placedBy")),
        "om": Function.iri(Function.uri_encode(
            Function.template(EX + "customer/{join_1_c_custkey}"))),
    }), "Extend")
    joined = joined.serialize(SerializerOp(template="?sm ?pm ?om ."))
    joined = joined.sink(_sink())
    return _bind(spark, sf_dir, joined, ["orders", "customer"]) \
        .select("subj", "pred", "obj")


def q_kg_rename_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ProjectOp + RenameOp on `nation` (plain relational output)."""
    g = Plan()
    p = g.source(_table_source("nation"))
    p = p.apply(ProjectOp(projection_attributes=frozenset(
        {"n_nationkey", "n_name", "n_regionkey"})), "Projection")
    p = p.apply(RenameOp.make({"n_nationkey": "nation_key",
                               "n_name": "nation_name",
                               "n_regionkey": "region_key"}), "Rename")
    # wrap into triples so the plan reaches a serializer (sink contract)
    p = p.apply(ExtendOp.make({
        "sm": Function.iri(Function.uri_encode(
            Function.template(EX + "nation/{nation_key}"))),
        "pm": Function.iri(Function.constant(EX + "ontology/inRegion")),
        "om": Function.iri(Function.uri_encode(
            Function.template(EX + "region/{region_key}"))),
        "pm2": Function.iri(Function.constant(EX + "ontology/name")),
        "om2": Function.literal(Function.reference("nation_name")),
    }), "Extend")
    p = p.serialize(SerializerOp(template="?sm ?pm ?om .\n?sm ?pm2 ?om2 ."))
    p = p.sink(_sink())
    return _bind(spark, sf_dir, p, ["nation"]).select("subj", "pred", "obj")


def q_kg_graph_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-graph quads + rdf:type class triples over `region`
    (FragmentOp-adjacent multi-quad serialization)."""
    g = Plan()
    p = g.source(_table_source("region"))
    p = p.apply(ProjectOp(projection_attributes=frozenset(
        {"r_regionkey", "r_name"})), "Projection")
    p = p.apply(ExtendOp.make({
        "sm": Function.iri(Function.uri_encode(
            Function.template(EX + "region/{r_regionkey}"))),
        "p_type": Function.iri(Function.constant(
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#type")),
        "o_cls": Function.iri(Function.constant(EX + "ontology/Region")),
        "p_name": Function.iri(Function.constant(EX + "ontology/name")),
        "o_name": Function.literal(Function.reference("r_name"),
                                   langtype=Function.constant("en")),
        "gm": Function.iri(Function.constant(EX + "graph/regions")),
    }), "Extend")
    p = p.serialize(SerializerOp(
        template="?sm ?p_type ?o_cls ?gm .\n?sm ?p_name ?o_name ?gm ."))
    p = p.sink(_sink())
    return _bind(spark, sf_dir, p, ["region"])


def q_kg_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join (PredicateType '<', IR-complete beyond the reference's
    emitted subset): region pairs r1.key < r2.key."""
    g = Plan()
    left = g.source(_table_source("region"))
    left = left.apply(ProjectOp(projection_attributes=frozenset(
        {"r_regionkey"})), "Projection")
    right = Plan(left.graph).source(_table_source("region"))
    right = right.apply(ProjectOp(projection_attributes=frozenset(
        {"r_regionkey"})), "Projection")
    joined = plan_join(left, right).alias("j").theta_join(
        [("r_regionkey", "r_regionkey")], PredicateType.LT)
    joined = joined.apply(ExtendOp.make({
        "sm": Function.iri(Function.uri_encode(
            Function.template(EX + "region/{r_regionkey}"))),
        "pm": Function.iri(Function.constant(EX + "ontology/precedes")),
        "om": Function.iri(Function.uri_encode(
            Function.template(EX + "region/{j_r_regionkey}"))),
    }), "Extend")
    joined = joined.serialize(SerializerOp(template="?sm ?pm ?om ."))
    joined = joined.sink(_sink())
    return _bind(spark, sf_dir, joined, ["region"]) \
        .select("subj", "pred", "obj")


def q_kg_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining §2.5 scalar surface through the algebra: FnO
    (GREL toUpperCase), Lower, Concatenate, Replace (matcher)."""
    g = Plan()
    p = g.source(_table_source("customer"))
    p = p.apply(ProjectOp(projection_attributes=frozenset(
        {"c_custkey", "c_name", "c_mktsegment"})), "Projection")
    grel_upper = "http://users.ugent.be/~bjdmeest/function/grel.ttl#toUpperCase"
    p = p.apply(ExtendOp.make({
        "sm": Function.iri(Function.uri_encode(
            Function.template(EX + "customer/{c_custkey}"))),
        "p_up": Function.iri(Function.constant(EX + "ontology/upperName")),
        "o_up": Function.literal(Function.fno(
            grel_upper, {"valueParameter": Function.reference("c_name")})),
        "p_lo": Function.iri(Function.constant(EX + "ontology/lowerSeg")),
        "o_lo": Function.literal(Function.lower(
            Function.reference("c_mktsegment"))),
        "p_cat": Function.iri(Function.constant(EX + "ontology/nameSeg")),
        "o_cat": Function.literal(Function.concatenate(
            Function.reference("c_name"), "|",
            Function.reference("c_mktsegment"))),
        "p_rep": Function.iri(Function.constant(EX + "ontology/segClass")),
        "o_rep": Function.literal(Function.replace(
            {"BUILD": {"BUILDING"}}, Function.reference("c_mktsegment"))),
    }), "Extend")
    p = p.serialize(SerializerOp(template=(
        "?sm ?p_up ?o_up .\n?sm ?p_lo ?o_lo .\n"
        "?sm ?p_cat ?o_cat .\n?sm ?p_rep ?o_rep .")))
    p = p.sink(_sink())
    return _bind(spark, sf_dir, p, ["customer"]) \
        .select("subj", "pred", "obj")


def q_kg_fragment_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FragmentOp: one projected source fans out to TWO serializer →
    target branches (the multi-consumer plan shape rml:logicalTarget
    and join feeding use); the query unions both sinks."""
    from kgloom.algebra import FragmentOp
    g = Plan()
    p = g.source(_table_source("nation"))
    p = p.apply(ProjectOp(projection_attributes=frozenset(
        {"n_nationkey", "n_name", "n_regionkey"})), "Projection")
    p = p.fragment(FragmentOp(from_fragment="default",
                              to_fragments=("default", "frag_1")))

    left = p.apply(ExtendOp.make({
        "sm": Function.iri(Function.uri_encode(
            Function.template(EX + "nation/{n_nationkey}"))),
        "pm": Function.iri(Function.constant(EX + "ontology/name")),
        "om": Function.literal(Function.reference("n_name")),
    }), "Extend")
    left.serialize(SerializerOp(template="?sm ?pm ?om .")).sink(_sink())

    right = p.with_fragment("frag_1").apply(ExtendOp.make({
        "sm": Function.iri(Function.uri_encode(
            Function.template(EX + "nation/{n_nationkey}"))),
        "pm": Function.iri(Function.constant(EX + "ontology/inRegion")),
        "om": Function.iri(Function.uri_encode(
            Function.template(EX + "region/{n_regionkey}"))),
    }), "Extend")
    right.serialize(SerializerOp(template="?sm ?pm ?om .")).sink(_sink())

    dfs = {"nation": spark.read.parquet(f"{sf_dir}/nation.parquet")}
    binder = SparkBinder(spark, dataframes=dfs)
    outs = list(write_sinks(binder.execute(g.graph)).values())
    assert len(outs) == 2
    return outs[0].unionByName(outs[1]).select("subj", "pred", "obj")


# ---------------------------------------------------------------------------
# North-rule transcript queries
# ---------------------------------------------------------------------------

def q_transcripts_turn_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgloom.transcripts.pipeline import turn_triples_plan
    turns = transcripts_from_events(spark, sf_dir)
    binder = SparkBinder(spark, dataframes={"transcripts": turns})
    out = list(write_sinks(binder.execute(
        turn_triples_plan().graph)).values())[0]
    return out.select("subj", "pred", "obj")


def _turn_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The turn KG with a null (default) ``graph`` column."""
    return q_transcripts_turn_triples(spark, sf_dir).withColumn(
        "graph", F.lit(None).cast("string"))


def _turn_kg_select(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """SPARQL SELECT ``query`` over the turn KG, ``kg:`` declared."""
    from kgloom.sparql import sparql_select
    return sparql_select(q_transcripts_turn_triples(spark, sf_dir),
                         _KG_PREFIX + query)


def _tool_use_annotations(tri: DataFrame) -> DataFrame:
    """RDF-star provenance ``<< turn usedTool tool >> kg:inConv conv``
    for every usedTool triple of the turn KG ``tri``."""
    from kgloom.ops.star import annotate
    used = tri.where(F.col("pred") == f"<{_KGO}usedTool>")
    part = (tri.where(F.col("pred") == f"<{_KGO}partOf>")
            .select("subj", F.col("obj").alias("__conv")))
    return annotate(used.join(part, "subj"), f"<{_KGO}inConv>",
                    F.col("__conv"))


def q_rdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serializer → parser round trip: the turn KG rendered to N-Quads
    text lines (kgloom/exec/binder.to_nquads_lines) and re-parsed by
    the distributed N-Quads source (kgloom/exec/rdfsource.py — two
    codegen regexp_extract passes over spark.read.text-shaped lines,
    no Python).  Must hash-match the original triples' oracle —
    oracle-gates both directions of the RDF text round trip, including
    literal escaping of the turn text."""
    from kgloom.exec.binder import to_nquads_lines
    from kgloom.exec.rdfsource import parse_nquads_lines
    return (parse_nquads_lines(to_nquads_lines(_turn_quads(spark, sf_dir)))
            .select("subj", "pred", "obj"))


def q_kg_vertical_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertically partitioned quad store (kgloom/ops/store.py, the
    SW-Store predicate layout): the turn KG written partitionBy(pred)
    — IRI directory values escaped/restored by Spark natively — read
    back and sliced to the kg:usedTool relation.  The slice prunes to
    one partition directory from driver metadata before any file
    opens (PartitionFilters plan-gated in tests/test_store.py); must
    hash-match the filtered turn-triples oracle."""
    import tempfile
    from kgloom.ops.store import read_quads_store, write_quads_store
    triples = q_transcripts_turn_triples(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="kgloom_store_") + "/quads"
    write_quads_store(triples, path)
    return (read_quads_store(spark, path)
            .where(F.col("pred") == f"<{_KGO}usedTool>")
            .select("subj", "pred", "obj"))


def q_transcripts_entity_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mention degree per CANONICAL entity — runs the full ER
    canonicalization (two-stage blocking + components) and aggregates
    over its output, putting canonical_map itself under the DuckDB
    gate: on this corpus every variant of an entity scores above the
    link threshold, so a component is exactly a norm_key group and the
    canonical is its min surface — which SQL can replay."""
    from kgloom.transcripts.er import canonical_map
    turns = transcripts_from_events(spark, sf_dir)
    m = detect_mentions(turns)
    cmap = canonical_map(m)
    return (m.join(cmap, "surface")
            .groupBy(F.col("canonical").alias("entity"))
            .agg(F.count("*").alias("n_mentions"),
                 F.countDistinct("conv_id").alias("n_convs")))


def q_stats_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key skew histogram (round-4, kgloom/ops/skew.py): log10
    magnitudes of per-conversation turn counts — the dashboard row the
    pipeline logs before choosing shuffle strategy (hot conversations
    are THE skew surface the north rule names).  Two hash aggregates,
    no key-space sort; DuckDB replays the same floor(log10) rollup."""
    from kgloom.ops.skew import skew_report
    return skew_report(transcripts_from_events(spark, sf_dir), "conv_id")


def q_transcripts_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-gap sessionization rollup (round-4,
    kgloom/transcripts/training.py): conversations split at >6h
    inactivity gaps (LAG boundary + running sum, compared in exact
    integer microseconds), rolled up to per-session turn counts and
    bounds.  One shuffle on conv_id, linear per-conversation windows —
    the transcript pipeline's partitioning reused as-is."""
    from kgloom.transcripts.training import session_summary
    turns = transcripts_from_events(spark, sf_dir)
    return session_summary(turns, gap_seconds=21600)


def q_transcripts_sft_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT example extraction (round-4,
    kgloom/transcripts/training.py): one (prompt, response) pair per
    assistant turn, the prompt being the rendered last-3-turn context
    window (collect_list over a bounded window frame, joined JVM-side)
    — the conversation-to-training-example step of an LLM data
    pipeline, capped so prompt volume stays linear at 100 TB."""
    from kgloom.transcripts.training import sft_examples
    turns = transcripts_from_events(spark, sf_dir)
    return sft_examples(turns, max_context_turns=3)


def q_transcripts_chat_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template rendering with loss-mask spans (round-4,
    kgloom/transcripts/training.py:chat_render): each conversation
    becomes one training string plus the [start,end) character
    offsets of every assistant turn's text — the template-and-mask
    step before tokenization in an SFT pipeline.  Integer offset
    arithmetic over the deterministic turn order (windowed length
    sums), exact in any engine; the DuckDB twin replays the same
    window + ordered aggregation.

    The library function (kgloom/transcripts/training.py:chat_render)
    returns the spans as array<bigint> — the shape a training
    pipeline wants.  The driver's correctness canon sorts a pandas
    frame over all columns, and list-typed cells (numpy arrays out of
    DuckDB's .df()) are unhashable there, so THIS wrapper serializes
    the span arrays to comma-joined strings on both sides (round-4
    verdict item #1); the array-typed API is regression-tested in
    tests/test_transcripts.py."""
    from kgloom.transcripts.training import chat_render
    turns = transcripts_from_events(spark, sf_dir)
    out = chat_render(turns)
    return out.select(
        "conv_id", "rendered",
        F.array_join(F.col("mask_starts").cast("array<string>"), ",")
         .alias("mask_starts"),
        F.array_join(F.col("mask_ends").cast("array<string>"), ",")
         .alias("mask_ends"),
    )


# ---------------------------------------------------------------------------
# Graph inputs shared by the graph queries.  The DuckDB oracles build the
# same graphs from their own CTE text (_MENTION_CTES, _kg_edges_sql,
# _TURN_DAG_CTES); the two sides share no code.
# ---------------------------------------------------------------------------

def _entity_incidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (conv_id, canonical): the canonical entities (after ER
    canonicalization) each conversation mentions."""
    from kgloom.transcripts.er import canonical_map
    m = detect_mentions(transcripts_from_events(spark, sf_dir))
    return (m.join(canonical_map(m), "surface")
            .select("conv_id", "canonical").distinct())


def _comention_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-mention graph: (src, dst) canonical entities that share a
    conversation, src < dst."""
    ents = _entity_incidence(spark, sf_dir)
    a, b = ents.alias("a"), ents.alias("b")
    return (a.join(b, "conv_id")
            .where(F.col("a.canonical") < F.col("b.canonical"))
            .select(F.col("a.canonical").alias("src"),
                    F.col("b.canonical").alias("dst")))


def _thinned(edges: DataFrame, max_prefix: str) -> DataFrame:
    """Distinct edges kept by an md5(src|dst) hex-prefix draw — an
    engine-replayable Bernoulli thinning."""
    return (edges.distinct()
            .where(F.substring(F.md5(F.concat_ws("|", "src", "dst")),
                               1, 2) <= max_prefix))


def _kg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The turn KG's IRI→IRI edges (partOf + usedTool) as (src, dst)."""
    triples = q_transcripts_turn_triples(spark, sf_dir)
    return (triples.where(F.col("obj").startswith("<"))
            .select(F.col("subj").alias("src"), F.col("obj").alias("dst")))


def _tool_nodes(edges: DataFrame) -> DataFrame:
    """The distinct tool IRIs among ``edges``' targets, as ``node``."""
    return (edges.select(F.col("dst").alias("node"))
            .where(F.col("node").startswith("<http://kg.example/tool/"))
            .distinct())


def _turn_iri(idx: Column) -> Column:
    return F.concat(F.lit("<http://kg.example/conv/"), F.col("conv_id"),
                    F.lit("/turn/"), idx.cast("string"), F.lit(">"))


def _turn_succession(turns: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The turn-succession DAG as two (src, dst) edge sets: each turn to
    its conversation's next turn, and each tool turn to its tool IRI."""
    from pyspark.sql.window import Window
    turn = _turn_iri(F.col("turn_idx"))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    nxt = (turns.select(turn.alias("src"), F.lead(turn).over(w).alias("dst"))
           .where(F.col("dst").isNotNull()))
    tool = (turns.where(F.col("tool").isNotNull())
            .select(turn.alias("src"),
                    F.concat(F.lit("<http://kg.example/tool/"),
                             F.col("tool"), F.lit(">")).alias("dst")))
    return nxt, tool


def _turn_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    nxt, tool = _turn_succession(transcripts_from_events(spark, sf_dir))
    return nxt.unionByName(tool)


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity triangle counts over the co-mention graph (round-4,
    kgloom/ops/graph.py:triangle_count — degree-ordered node-iterator,
    each triangle generated once at its lowest-rank corner, hub wedge
    fan-out bounded by O(√m)): canonical entities sharing a
    conversation are joined into undirected edges, then counted.  The
    DuckDB oracle replays the count with the naive rank-free
    lexicographic orientation — triangle counts are
    orientation-independent, so the two must agree exactly."""
    from kgloom.ops.graph import triangle_count
    return triangle_count(_comention_edges(spark, sf_dir))


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the constructed KG's IRI→IRI edges (round-4,
    kgloom/ops/graph.py:k_core): iterative degree peeling to the
    fixpoint — the cohesion filter separating the well-connected
    backbone from peripheral nodes.  The partOf/usedTool graph peels
    in a genuine cascade (degree-1 turns fall first, their removal
    drags conversation degrees down, and so on).  Each round is one
    hash-aggregate + two semi-joins with localCheckpoint lineage
    truncation; the DuckDB twin unrolls MORE peel rounds than the
    graph's peeling depth (the peel is idempotent at fixpoint, so
    extra rounds are no-ops)."""
    from kgloom.ops.graph import k_core
    return k_core(_kg_edges(spark, sf_dir), k=2)


def q_transcripts_tool_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join (round-4, kgloom/streaming/pipeline.py:
    stream_tool_attribution run in batch mode — the SAME function
    powers the watermarked stream-stream join, tested stream==batch
    in tests/test_streaming.py): each tool turn joined to every
    candidate triggering assistant turn in the same conversation with
    tool_ts ∈ (assistant_ts, assistant_ts + 24h].  The DuckDB twin is
    the identical interval predicate."""
    from kgloom.streaming import stream_tool_attribution
    turns = transcripts_from_events(spark, sf_dir)
    return stream_tool_attribution(turns, max_gap="24 hours")


def q_graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded BFS levels (round-4, kgloom/ops/graph.py:bfs_levels):
    minimum hop distance of every KG node from the TOOL node set over
    the symmetrized partOf/usedTool graph — frontier iteration doing
    O(reached edges) work per level (tool-using turns land at level
    1, their conversations at 2, sibling turns at 3, …).  The DuckDB
    twin is a recursive reachability CTE with MIN(level); integer
    levels, exact by construction."""
    from kgloom.ops.graph import bfs_levels
    edges = _kg_edges(spark, sf_dir)
    return bfs_levels(edges, _tool_nodes(edges), max_depth=8,
                      directed=False)


def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS over the constructed KG's IRI→IRI edges
    (round-4, kgloom/ops/graph.py:hits): 2 unnormalized power-
    iteration rounds — the scores stay exact INTEGER path counts
    (auth₁ = in-degree, hub₂ = Σ over successors of their weighted
    in-degrees), so the DuckDB twin (the same rounds unrolled as
    chained CTEs) must agree bit-for-bit with no float-normalization
    drift.  Per round: two hash joins + two hash aggregates, the same
    shuffle profile as one PageRank iteration."""
    from kgloom.ops.graph import hits
    return hits(_kg_edges(spark, sf_dir), iterations=2)


def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over a deterministically SPARSIFIED
    co-mention graph (round-4, kgloom/ops/graph.py:
    connected_components with the driver gate forced OFF, so the
    DISTRIBUTED pointer-jump path — neighbor-min propagation + label
    pointer jumping, O(log diameter) rounds — is what the oracle
    gates).  The full co-mention graph is one near-clique component
    (every entity pair sharing a conversation), so edges are sampled
    by md5(src|dst) prefix (≈1.2% keep) — an engine-replayable
    Bernoulli thinning that fragments the graph into non-trivial
    components.  The DuckDB twin computes min-reachable-node per node
    via a recursive reachability CTE; component labels (the minimal
    member) are canonical, so both engines must agree exactly."""
    from kgloom.ops.graph import connected_components
    return connected_components(_thinned(_comention_edges(spark, sf_dir),
                                         "02"), driver_max_edges=0)


def q_graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities (round-4,
    kgloom/ops/graph.py:label_propagation) over the md5-thinned
    co-mention graph (denser thinning than graph_components — ≈4.3%
    keep — so communities are sub-component structure, not just
    components).  Deterministic: integer neighbor-label votes, ties
    to the smallest label, fixed 3 synchronous rounds; the DuckDB
    twin unrolls the same rounds and must agree exactly."""
    from kgloom.ops.graph import label_propagation
    return label_propagation(_thinned(_comention_edges(spark, sf_dir), "0a"),
                             rounds=3)


def q_graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random walks (round-4,
    kgloom/ops/graph.py:random_walks) over the undirected
    partOf/usedTool KG: 2 walks × 3 steps from every node, each step
    chosen by md5(start|walk|step|cur) mod degree over the
    id-ordered adjacency — the DeepWalk/node2vec sequence generator
    with NO RNG state, so reruns and the DuckDB twin walk identical
    paths.  Per step: one join to the degree table for the slot draw
    (staged conv, the Spark 4.1.2 fused-expression hazard) and one
    equi-join on (source, rank) — no hub fan-out."""
    from kgloom.ops.graph import random_walks
    return random_walks(_kg_edges(spark, sf_dir), n_walks=2, walk_len=3)


def q_graph_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec second-order biased walks (round-4,
    kgloom/ops/graph.py:biased_walks) over the undirected
    partOf/usedTool KG: return weight 1/p, BFS weight 1, DFS weight
    1/q, the successor picked where the cumulative weight first
    exceeds md5(start|w|i|prev|cur)/2³²·total.  p and q are powers of
    two so every cumulative sum is an EXACT double — the pick
    compares identically in any engine regardless of summation order,
    which is what makes a biased sampler oracle-replayable.  Runs on
    the co-mention graph: second-order biasing inherently weighs a
    node's FULL adjacency per step (fan-out = deg(cur)), so the
    hub-heavy turn→tool KG (tool degree ~30k at sf0.1) would explode
    the candidate set — the bounded-degree entity graph is the honest
    demonstration surface for this operator."""
    from kgloom.ops.graph import biased_walks
    return biased_walks(_comention_edges(spark, sf_dir), p=4.0, q=0.25,
                        n_walks=1, walk_len=3)


def q_graph_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram training pairs from the deterministic walks (round-4,
    kgloom/ops/graph.py:skipgram_pairs): every (center, context) node
    pair within 2 steps on the same walk — the word2vec-style input a
    node-embedding trainer consumes.  One self-join keyed on walk
    identity; per-row fan-out bounded by 2·window regardless of graph
    shape."""
    from kgloom.ops.graph import skipgram_pairs
    return skipgram_pairs(q_graph_random_walks(spark, sf_dir), window=2)


def q_graph_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI edge weighting for the co-mention graph (round-4,
    kgloom/ops/graph.py:pmi_pairs): conversation-level entity
    co-occurrence scored ln((n_ab·N)/(n_a·n_b)) — the statistical
    confidence that prunes coincidental co-mention edges before KG
    entry.  Count arithmetic plus one ln per pair; no float sums, so
    the DuckDB twin is exact."""
    from kgloom.ops.graph import pmi_pairs
    return pmi_pairs(_entity_incidence(spark, sf_dir), bag="conv_id",
                     item="canonical")


def q_graph_linkpred_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction evaluation harness (round-4,
    kgloom/ops/graph.py:link_prediction_ranks): hold out 20% of
    canonical KG edges by the md5 hex-rank split, score the training
    graph with Adamic-Adar (hub centers capped at 100), and report
    each held-out edge's rank among its source's candidates —
    per-edge integers instead of cross-row float metric sums, so the
    DuckDB twin is exact and MRR/Hits@k are one aggregate away.
    Runs on the co-mention graph, where a held-out edge keeps many
    common neighbors in the training half and the ranks are
    informative (on the tree-like turn→conv KG nothing is reachable
    at distance 2, so every rank would be null)."""
    from kgloom.ops.graph import link_prediction_ranks
    return link_prediction_ranks(_comention_edges(spark, sf_dir),
                                 test_fraction=0.2, salt="lp",
                                 max_center_degree=100000)


def q_kg_negative_samples_subj(spark, sf_dir):
    """Subject-side corruption twin of kg_negative_samples (round-4,
    kgloom/ops/negatives.py): the same vocabulary and md5 draw
    replace the SUBJECT, collisions flagged via an (obj, pred) →
    subject-set membership join — TransE-style training corrupts both
    sides, so the pair of queries is the full protocol."""
    from kgloom.ops.cache import tracked_persist
    from kgloom.ops.negatives import negative_samples
    tri = tracked_persist(q_kg_fragment_multi(spark, sf_dir))
    return negative_samples(tri, n_neg=20, corrupt="subj")


def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link-prediction scores (round-4,
    kgloom/ops/graph.py:adamic_adar) over the partOf/usedTool KG
    edges: non-adjacent pairs scored Σ 1/ln(deg) across common
    neighbors — the non-embedding KG-completion baseline that pairs
    with the negative sampler's training data.  Hub wedge centers
    above degree 100 are dropped before the self-join (the O(deg²)
    guard; their per-wedge weight 1/ln(deg) is the minimum possible);
    the per-pair sum is the same ordered-fold discipline as the
    bigram LM, so the DuckDB twin matches bit-for-bit."""
    from kgloom.ops.graph import adamic_adar
    return adamic_adar(_kg_edges(spark, sf_dir), max_center_degree=100)


def q_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction (round-4,
    kgloom/ops/graph.py:jaccard_pairs) over the partOf/usedTool KG
    edges: |N(u)∩N(v)| / |N(u)∪N(v)| for non-adjacent pairs — the
    set-overlap baseline next to Adamic–Adar, kept engine-exact by
    construction (integer wedge counts + true degrees; the score is
    ONE division of exact integers, no cross-row float sums).  Same
    degree-100 hub-center wedge guard as graph_adamic_adar, mirrored
    by the DuckDB twin."""
    from kgloom.ops.graph import jaccard_pairs
    return jaccard_pairs(_kg_edges(spark, sf_dir), max_center_degree=100)


def q_kg_predicate_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-predicate cardinality profile (round-4,
    kgloom/ops/graph.py:predicate_profile): triple/subject/object
    counts, max in/out degree, and observed functional /
    inverse-functional flags — construction QA that doubles as OWL
    axiom suggestion.  Two hash aggregates per direction, integers
    only."""
    from kgloom.ops.graph import predicate_profile
    return predicate_profile(q_transcripts_turn_triples(spark, sf_dir))


def q_sparql_kg_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL SELECT over the engine's own constructed KG: build the
    turn triples, then answer a two-pattern BGP (join on ?turn) with a
    constant-object pattern (tool turns carry role "tool") — the SPARQL reference formulation
    executing end-to-end (kgloom/sparql.py)."""
    return _turn_kg_select(spark, sf_dir, """
        SELECT ?turn ?tool WHERE {
          ?turn kg:usedTool ?tool ;
                kg:role "tool" .
        }
    """)


def q_sparql_kg_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL-star over an RDF-star KG (kgloom/sparql.py
    QuotedPattern + kgloom/ops/star.py): the turn KG plus statement-
    level provenance ``<< turn usedTool tool >> kg:inConv conv``; the
    query matches the quoted-triple pattern in subject position,
    decomposes it in-plan (regexp_extract, codegen), unifies ?turn
    with the asserted role pattern, and projects lexical forms.  The
    reference has no RDF-star surface at all."""
    from kgloom.sparql import sparql_select
    kg = _turn_quads(spark, sf_dir)
    kg = kg.unionByName(_tool_use_annotations(kg))
    return sparql_select(kg, _KG_PREFIX + """
        SELECT ?turn ?tool ?conv ?role WHERE {
          << ?turn kg:usedTool ?tool >> kg:inConv ?conv .
          ?turn kg:role ?role .
        }
    """)


def q_sparql_kg_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL OPTIONAL over the constructed KG (kgloom/sparql.py): every
    turn with its role, plus the tool it used when one exists — the
    left-join compilation of OPTIONAL, nulls for turns without tools."""
    return _turn_kg_select(spark, sf_dir, """
        SELECT ?turn ?role ?tool WHERE {
          ?turn kg:role ?role .
          OPTIONAL { ?turn kg:usedTool ?tool }
        }
    """)


def q_sparql_kg_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION over the constructed KG: each turn's tool IRI and
    role literal as one binding stream (unionByName compilation)."""
    return _turn_kg_select(spark, sf_dir, """
        SELECT ?turn ?v WHERE {
          { ?turn kg:usedTool ?v } UNION { ?turn kg:role ?v }
        }
    """)


def q_sparql_kg_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL aggregates over the constructed KG (kgloom/sparql.py):
    per-conversation turn counts via GROUP BY + COUNT, where COUNT of an
    OPTIONAL-bound variable counts only the solutions where it bound
    (tool turns), plus a HAVING group filter — the aggregate subset
    (COUNT/SUM/AVG/MIN/MAX, GROUP BY, HAVING) compiled to a Spark
    groupBy/agg."""
    return _turn_kg_select(spark, sf_dir, """
        SELECT ?conv (COUNT(?turn) AS ?n_turns)
                     (COUNT(?tool) AS ?n_tool_turns) WHERE {
          ?turn kg:partOf ?conv .
          OPTIONAL { ?turn kg:usedTool ?tool }
        }
        GROUP BY ?conv HAVING(?n_turns > 1)
    """)


def q_sparql_kg_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SPARQL via snapshot time travel
    (kgloom/tables.py:read_at + kgloom/sparql.py): the turn KG is
    committed in two snapshots — v1 = the tool-usage subgraph, v2 =
    the full KG — and the aggregate runs against v1 AFTER the pointer
    moved to v2 (Iceberg VERSION-AS-OF semantics in parquet-snapshot
    mode; snapshots are immutable, so point-in-time analyses are
    reproducible).  The oracle replays the v1 content directly."""
    import tempfile
    from kgloom.tables import SnapshotStore
    triples = q_transcripts_turn_triples(spark, sf_dir)
    store = SnapshotStore(spark, tempfile.mkdtemp(prefix="kgloom_asof_"))
    s1 = store.write("kg", triples.where(
        F.col("pred") == f"<{_KGO}usedTool>"))
    store.write("kg", triples)                  # pointer moves on
    asof = store.read_at("kg", s1.snapshot_id)
    from kgloom.sparql import sparql_select
    return sparql_select(asof, _KG_PREFIX + """
        SELECT ?tool (COUNT(?turn) AS ?n_uses) WHERE {
          ?turn kg:usedTool ?tool .
        } GROUP BY ?tool
    """)


def q_kg_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO over the snapshot store (kgloom/tables.py:merge —
    Iceberg copy-on-write MERGE semantics): the turn KG is committed,
    then one merge keyed on (subj, pred) UPDATEs every tool-turn's
    role triple to "tool_user", INSERTs a new flagged triple, and
    DELETEs the tool-turn's text triple via the delete marker.  The
    result is the post-merge snapshot; the parent stays
    time-travelable.  Plan: one LEFT ANTI join on the merge key + one
    union, shuffled on (subj, pred) with AQE sizing — the exact shape
    a 100-TB copy-on-write MERGE runs."""
    import tempfile
    from kgloom.tables import SnapshotStore
    triples = q_transcripts_turn_triples(spark, sf_dir)
    store = SnapshotStore(spark, tempfile.mkdtemp(prefix="kgloom_merge_"))
    store.write("kg", triples)
    tool_turns = (triples.where(F.col("pred") == f"<{_KGO}usedTool>")
                  .select("subj").distinct())
    updates = (
        tool_turns.select(
            "subj", F.lit(f"<{_KGO}role>").alias("pred"),
            F.lit('"tool_user"').alias("obj"),
            F.lit(False).alias("del"))
        .unionByName(tool_turns.select(
            "subj", F.lit(f"<{_KGO}flagged>").alias("pred"),
            F.lit('"true"').alias("obj"), F.lit(False).alias("del")))
        .unionByName(tool_turns.select(
            "subj", F.lit(f"<{_KGO}text>").alias("pred"),
            F.lit(None).cast("string").alias("obj"),
            F.lit(True).alias("del"))))
    store.merge("kg", updates, keys=["subj", "pred"], delete_col="del")
    return store.read("kg")


def q_sparql_kg_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT over the constructed KG (kgloom/sparql.py): a
    derived graph linking each conversation directly to the tools it
    used — template instantiation per solution, de-duplicated (a graph
    is a set), returned as a quad DataFrame so the result can feed the
    serializer or another mapping."""
    from kgloom.sparql import sparql_construct
    kg = q_transcripts_turn_triples(spark, sf_dir)
    return sparql_construct(kg, _KG_PREFIX + """
        CONSTRUCT { ?conv kg:toolUsed ?tool }
        WHERE { ?turn kg:partOf ?conv ; kg:usedTool ?tool . }
    """).select("subj", "pred", "obj")


def q_sparql_kg_bind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL BIND + VALUES over the constructed KG: restrict roles via
    a VALUES inline-data join, then derive a label with
    BIND(CONCAT(UCASE(...))) — expression compilation to pure Column
    ops (no Python row path)."""
    return _turn_kg_select(spark, sf_dir, """
        SELECT ?turn ?label WHERE {
          ?turn kg:role ?role .
          VALUES ?role { "user" "assistant" }
          BIND(CONCAT(UCASE(?role), "@", STR(?turn)) AS ?label)
        }
    """)


def _kg_with_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The constructed turn-triples KG enriched with ``kg:next``
    successor edges (turn i → the conversation's next turn by
    ``turn_idx`` order) — the chain relation the property-path queries
    traverse.  One window pass (partitioned by conversation), rendered
    IRIs, unioned with the engine-constructed KG; pure Catalyst."""
    triples = q_transcripts_turn_triples(spark, sf_dir)
    nxt = _turn_succession(transcripts_from_events(spark, sf_dir))[0].select(
        F.col("src").alias("subj"), F.lit(f"<{_KGO}next>").alias("pred"),
        F.col("dst").alias("obj"))
    # the SPARQL engine scans the input several times (edge extraction
    # for the closure, the non-path BGPs, the CC pass) — persist the
    # constructed KG once instead of re-running the construction
    # pipeline per scan
    from kgloom.ops.cache import tracked_persist
    return tracked_persist(triples.unionByName(nxt))


def q_sparql_kg_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property paths over the constructed KG: ``kg:next+``
    transitive closure (distributed path doubling — ⌈log2 L⌉ shuffle
    rounds for chain length L) joined with a ``kg:next/kg:usedTool``
    sequence path: every turn pair (a strictly-before b) where b's
    successor turn invoked a tool."""
    from kgloom.sparql import sparql_select
    return sparql_select(_kg_with_next(spark, sf_dir), _KG_PREFIX + """
        SELECT DISTINCT ?a ?b ?tool WHERE {
          ?a kg:next+ ?b .
          ?b kg:next/kg:usedTool ?tool .
        }
    """)


def q_sparql_kg_path_anchored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant-anchored transitive path: every turn strictly after
    conv-1's turn 0, with its role.  The ground subject routes the
    closure through the SEEDED strategy
    (`kgloom.ops.closure.anchored_closure`): the ``kg:next`` edge
    relation is restricted to the anchor's connected component (one
    log-round CC pass, work linear in edges) before closing, so the
    work scales with the REACHABLE region — conv-1's own chain — not
    the whole graph's closure, unlike the both-ends-variable
    ``sparql_kg_path``."""
    from kgloom.sparql import sparql_select
    return sparql_select(_kg_with_next(spark, sf_dir), _KG_PREFIX + """
        SELECT DISTINCT ?b ?role WHERE {
          <http://kg.example/conv/conv-1/turn/0> kg:next+ ?b .
          ?b kg:role ?role .
        }
    """)


def q_sparql_kg_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested ``{ SELECT … }`` subquery (round-4): the top-5
    conversations by tool-invocation count — expression ORDER BY
    (``DESC(COUNT(?t))``), a tie-breaking key, OFFSET-free LIMIT —
    evaluated bottom-up, then natural-joined back to every tool turn
    of those conversations in the enclosing group."""
    from kgloom.sparql import sparql_select
    return sparql_select(_kg_with_next(spark, sf_dir), _KG_PREFIX + """
        SELECT ?conv ?turn ?tool WHERE {
          { SELECT ?conv (COUNT(?t) AS ?ntool) WHERE {
              ?t kg:partOf ?conv . ?t kg:usedTool ?any .
            } GROUP BY ?conv ORDER BY DESC(COUNT(?t)) ?conv LIMIT 5 }
          ?turn kg:partOf ?conv .
          ?turn kg:usedTool ?tool .
        }
    """)


def q_sparql_kg_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 Update over the constructed KG (round-4,
    kgloom/sparql.py:sparql_update): a two-operation script — INSERT
    DATA adds a ground dataset-version triple, then DELETE/INSERT WHERE
    rewrites every ``kg:role "tool"`` triple to ``"tool_result"`` and
    stamps the rewritten turns with a marker triple.  Functional
    semantics: the updated store comes back as one lazy plan (anti-join
    deletes, anti-join + union inserts — only touched data pays dedup),
    which the DuckDB oracle replays with plain set operations."""
    from kgloom.sparql import sparql_update
    kg = q_transcripts_turn_triples(spark, sf_dir)
    return sparql_update(kg, _KG_PREFIX + """
        INSERT DATA {
          <http://kg.example/dataset> kg:version "r4"
        } ;
        DELETE { ?t kg:role "tool" }
        INSERT { ?t kg:role "tool_result" .
                 ?t kg:rewritten "true" }
        WHERE  { ?t kg:role "tool" }
    """).select("subj", "pred", "obj")


def q_sparql_kg_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 built-in function surface (round-4): chained BINDs
    over the constructed KG exercising STRAFTER/STRBEFORE (IRI
    dissection), SUBSTR arithmetic via STRLEN+ROUND, IF over a BOUND
    condition with an OPTIONAL variable, and SHA256 fingerprinting —
    all compiled to pure Catalyst Columns (when/instr/substring/
    floor/sha2), no Python row path."""
    return _turn_kg_select(spark, sf_dir, """
        SELECT ?turn ?cid ?halflen ?kind ?fp WHERE {
          ?turn kg:partOf ?conv .
          ?turn kg:role ?role .
          OPTIONAL { ?turn kg:usedTool ?tool }
          BIND(STRAFTER(STR(?turn), "conv/") AS ?loc)
          BIND(STRBEFORE(?loc, "/") AS ?cid)
          BIND(ROUND(STRLEN(?loc) / 2) AS ?halflen)
          BIND(IF(BOUND(?tool), STRAFTER(STR(?tool), "tool/"),
                  STR(?role)) AS ?kind)
          BIND(SHA256(CONCAT(?cid, ":", ?kind)) AS ?fp)
        }
    """)


def q_sparql_kg_path_alt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL inverse + alternation + sequence path: conversations to
    every tool IRI or role literal of their turns via
    ``^kg:partOf/(kg:usedTool|kg:role)`` — inverse edge walk into a
    unioned alternative, compiled to a constant-pred scan join/union."""
    from kgloom.sparql import sparql_select
    return sparql_select(_kg_with_next(spark, sf_dir), _KG_PREFIX + """
        SELECT DISTINCT ?conv ?v WHERE {
          ?conv ^kg:partOf/(kg:usedTool|kg:role) ?v .
        }
    """)


def _two_graph_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-named-graph KG built by ONE mapping plan (quad serializer
    templates): nation names into ``graph/names``, region topology
    into ``graph/topology``."""
    g = Plan()
    p = g.source(_table_source("nation"))
    p = p.apply(ProjectOp(projection_attributes=frozenset(
        {"n_nationkey", "n_name", "n_regionkey"})), "Projection")
    p = p.apply(ExtendOp.make({
        "sm": Function.iri(Function.uri_encode(
            Function.template(EX + "nation/{n_nationkey}"))),
        "p_name": Function.iri(Function.constant(EX + "ontology/name")),
        "o_name": Function.literal(Function.reference("n_name")),
        "g_names": Function.iri(Function.constant(EX + "graph/names")),
        "p_reg": Function.iri(Function.constant(EX + "ontology/inRegion")),
        "o_reg": Function.iri(Function.uri_encode(
            Function.template(EX + "region/{n_regionkey}"))),
        "g_topo": Function.iri(Function.constant(EX + "graph/topology")),
    }), "Extend")
    p = p.serialize(SerializerOp(template=(
        "?sm ?p_name ?o_name ?g_names .\n?sm ?p_reg ?o_reg ?g_topo .")))
    p = p.sink(_sink())
    return _bind(spark, sf_dir, p, ["nation"])


def q_sparql_kg_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL GRAPH over an engine-constructed two-named-graph KG
    (:func:`_two_graph_quads`): a cross-graph join — constant-IRI
    GRAPH scoping for the first pattern, variable GRAPH binding
    (``?g``) for the second."""
    from kgloom.sparql import sparql_select
    quads = _two_graph_quads(spark, sf_dir)
    return sparql_select(quads, f"""
        SELECT DISTINCT ?n ?r ?g WHERE {{
          GRAPH <{EX}graph/names> {{
            ?s <{EX}ontology/name> ?n }}
          GRAPH ?g {{ ?s <{EX}ontology/inRegion> ?r }}
        }}
    """)


def q_sparql_kg_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 dataset clauses (round-4, kgloom/sparql.py §13.2):
    ``FROM`` merges graphs into the active default graph (their names
    become invisible to GRAPH patterns — RDF merge semantics) while
    ``FROM NAMED`` is the only scope GRAPH patterns may match.  Over
    the two-named-graph KG: names enter via FROM (matched by the
    default BGP), topology stays named-only (matched by GRAPH ?g) —
    the same solution requires both scopes to be partitioned
    correctly.  One filtered union over the quad table; scoping is a
    pushed graph-column predicate, no Python."""
    from kgloom.sparql import sparql_select
    quads = _two_graph_quads(spark, sf_dir)
    return sparql_select(quads, f"""
        SELECT DISTINCT ?n ?r ?g
        FROM <{EX}graph/names>
        FROM NAMED <{EX}graph/topology>
        WHERE {{
          ?s <{EX}ontology/name> ?n .
          GRAPH ?g {{ ?s <{EX}ontology/inRegion> ?r }}
        }}
    """)


def q_sparql_kg_update_graphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-scoped SPARQL 1.1 Update (round-4, kgloom/sparql.py): over
    the two-named-graph KG, a three-operation script — MOVE renames the
    topology graph (filter + retarget + union), a WITH-scoped
    DELETE/INSERT rewrites ``ontology/name`` to ``ontology/label``
    inside ``graph/names`` only (WITH wraps both the matching and the
    unscoped templates in the graph scope), and a ``GRAPH ?g`` template
    stamps every named graph with a provenance triple placed in that
    same graph.  Quad-precise deletes/inserts (anti joins keyed on the
    full quad, null-safe graph); the DuckDB oracle replays the end
    state relationally."""
    from kgloom.sparql import sparql_update
    quads = _two_graph_quads(spark, sf_dir)
    return sparql_update(quads, f"""
        MOVE <{EX}graph/topology> TO <{EX}graph/topo2> ;
        WITH <{EX}graph/names>
        DELETE {{ ?s <{EX}ontology/name> ?n }}
        INSERT {{ ?s <{EX}ontology/label> ?n }}
        WHERE  {{ ?s <{EX}ontology/name> ?n }} ;
        INSERT {{ GRAPH ?g {{ ?g <{EX}ontology/stamp> "stamped" }} }}
        WHERE  {{ GRAPH ?g {{ ?s ?p ?o }} }}
    """)


def q_sparql_kg_minus_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL MINUS + FILTER NOT EXISTS over the constructed KG: roles
    of turns, MINUS the tool-invoking turns (anti join on the shared
    ?turn), NOT EXISTS the assistant turns — leaving exactly the user
    turns, each negation compiled to a distinct left-anti join."""
    return _turn_kg_select(spark, sf_dir, """
        SELECT ?turn ?role WHERE {
          ?turn kg:role ?role .
          MINUS { ?turn kg:usedTool ?tool }
          FILTER NOT EXISTS { ?turn kg:role "assistant" }
        }
    """)


def q_kg_turtle_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed deterministic Turtle serialization of the turn KG
    (kgloom/exec/ttl.py — a format the reference enumerates but leaves
    unimplemented, serializer/mod.rs): one single-line block per
    subject, objects and predicates in sorted order, prefix compaction
    only where the local name is safe (turn subjects keep full IRIs —
    their path has a '/'; conv/tool objects compact).  Determinism
    makes the TEXT itself oracle-checkable: the DuckDB twin rebuilds
    the identical strings with string_agg ORDER BY."""
    from kgloom.exec.ttl import turtle_blocks
    triples = q_transcripts_turn_triples(spark, sf_dir)
    return turtle_blocks(triples, {
        "kg": _KGO,
        "conv": "http://kg.example/conv/",
        "tool": "http://kg.example/tool/"})


def q_kg_rdfstar_annotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF-star statement-level provenance (kgloom/ops/star.py + the
    N-Triples-star reader grammar in kgloom/exec/rdfsource.py — no
    RDF-star surface exists in the reference): every usedTool triple
    is annotated ``<< turn usedTool tool >> kg:inConv conv``, the
    annotations are serialized to N-Quads-star TEXT and parsed back
    in-plan (to_nquads_lines → parse_nquads_lines, both pure Catalyst)
    — the returned quads prove writer ∘ reader = identity on quoted
    terms at corpus scale.  Map-side string work + one subj equi-join;
    no Python."""
    from kgloom.exec.binder import to_nquads_lines
    from kgloom.exec.rdfsource import parse_nquads_lines
    ann = _tool_use_annotations(q_transcripts_turn_triples(spark, sf_dir))
    return (parse_nquads_lines(to_nquads_lines(ann))
            .select("subj", "pred", "obj"))


def q_kg_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen interval-algebra classification
    (kgloom/ops/temporal.py:allen_relation/allen_pairs, Allen CACM
    1983): each user's per-event-type activity span [min ts, max ts]
    is an interval; every event-type pair within a user classifies
    into one of the 13 relations, aggregated to (type_a, type_b,
    relation, n_pairs).  One bounded aggregate + an equi-join on
    user_id with a per-key pair set capped by the event-type
    vocabulary — scales out in users; the oracle replays the same
    normative CASE ladder."""
    from kgloom.ops.temporal import allen_pairs
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    iv = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("valid_from"), F.max("ts").alias("valid_to"))
    pairs = allen_pairs(iv, ["user_id"], "event_type")
    return (pairs.groupBy("id_a", "id_b", "relation")
            .agg(F.count(F.lit(1)).alias("n_pairs")))


def q_kg_jsonld_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed deterministic flat JSON-LD serialization of the
    turn KG (kgloom/exec/jsonld.py — a format the reference enumerates
    but leaves unimplemented, formats.rs:20-29): one flattened node
    object per subject, keys @id < @type < sorted predicate IRIs,
    values sorted by rendered JSON — determinism makes the TEXT itself
    oracle-checkable; two grouping shuffles, JVM-only string assembly,
    no Python."""
    from kgloom.exec.jsonld import jsonld_nodes
    triples = q_transcripts_turn_triples(spark, sf_dir)
    return jsonld_nodes(triples)


def q_sparql_kg_values_undef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL VALUES with UNDEF cells over the constructed KG
    (kgloom/sparql.py): inline data tags user turns "u", matches
    assistant turns with an unbound ?mark, and a fully-UNDEF ?role row
    tags EVERY turn "any" — so user/assistant turns surface twice with
    different marks (bag semantics of the §10.2 compatibility join).
    The UNDEF-aware join compiles to a broadcast theta join
    (null-or-equal per shared var) + coalesce merge."""
    return _turn_kg_select(spark, sf_dir, """
        SELECT ?turn ?role ?mark WHERE {
          ?turn kg:role ?role .
          VALUES (?role ?mark) {
            ("user" "u")
            ("assistant" UNDEF)
            (UNDEF "any")
          }
        }
    """)


def q_sparql_kg_group_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL computed GROUP BY keys (§18.2.4.1, kgloom/sparql.py):
    turns bucketed by text-length decade — ``GROUP BY
    (FLOOR(STRLEN(?txt) / 10) AS ?lenb)`` computed as a
    pre-aggregation extend, plus a per-bucket count and average
    length.  The DuckDB twin replays the same floor/length arithmetic
    (numeric results surface as double lexicals in both engines)."""
    return _turn_kg_select(spark, sf_dir, """
        SELECT ?lenb (COUNT(*) AS ?n_turns)
               (AVG(STRLEN(?txt)) AS ?avg_len) WHERE {
          ?turn kg:text ?txt .
        } GROUP BY (FLOOR(STRLEN(?txt) / 10) AS ?lenb)
        ORDER BY ?lenb
    """)


def q_sparql_kg_having_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL HAVING over a direct aggregate expression
    (kgloom/sparql.py): conversations' tool-turn counts filtered by
    ``HAVING (COUNT(DISTINCT ?tool) > 1)`` — the HAVING aggregate is
    DIFFERENT from the projected one, compiled as a hidden grouping
    output (the ORDER-BY-aggregate machinery) and dropped after the
    filter.  DuckDB replays it natively."""
    return _turn_kg_select(spark, sf_dir, """
        SELECT ?conv (COUNT(*) AS ?n_tool_turns) WHERE {
          ?turn kg:partOf ?conv ;
                kg:usedTool ?tool .
        } GROUP BY ?conv HAVING (COUNT(DISTINCT ?tool) > 1)
        ORDER BY ?conv
    """)


def q_sparql_kg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL FILTER boolean expressions over the constructed KG:
    ``||``/``&&``/``!`` connectives over REGEX, CONTAINS, STRSTARTS,
    BOUND and isIRI — chat turns about Entity_7* plus tool turns in the
    turn-10s — every predicate compiled to a codegen'd Column (rlike /
    contains / startswith / isNotNull), no Python row path."""
    return _turn_kg_select(spark, sf_dir, """
        SELECT ?turn ?role ?txt WHERE {
          ?turn kg:role ?role ;
                kg:text ?txt .
          OPTIONAL { ?turn kg:usedTool ?tool }
          FILTER( (!BOUND(?tool) && REGEX(?role, "^(user|assistant)$")
                   && CONTAINS(?txt, "Entity_7"))
                  || (BOUND(?tool) && isIRI(?tool)
                      && STRSTARTS(?txt, "turn 1")) )
        }
    """)


def q_transcripts_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    turns = transcripts_from_events(spark, sf_dir)
    return detect_mentions(turns).select(
        "conv_id", "turn_idx", "surface", "norm_key")


# ---------------------------------------------------------------------------
# Training-data ops: dedup / text analysis / similarity
# ---------------------------------------------------------------------------

def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_dedup_exact(spark, sf_dir):
    return D.exact_dedup(_docs(spark, sf_dir))


def q_dedup_substring_spans(spark, sf_dir):
    """Cross-document repeated-span detection
    (kgloom/ops/dedup.py:duplicate_spans; Lee et al. ACL 2022): hash a
    rolling 5-token window per position, mark windows whose hash
    occurs in ≥2 distinct documents.  One explode (map-side), one
    partial-aggregated groupBy(hash), one join back, one groupBy(doc)
    — a boilerplate span shared by millions of docs is one stats row,
    never an all-pairs blow-up; integer outputs keep the oracle
    exact."""
    # single-file testdata: spread before the window explode (A/B at
    # sf0.1: 5.0s -> 1.5s; same note as q_curate_dsir)
    docs = _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism)
    return D.duplicate_spans(docs, span_len=5, min_docs=2)


def q_dedup_ngram_jaccard(spark, sf_dir):
    return D.ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.2)


def q_dedup_minhash_lsh(spark, sf_dir):
    return D.minhash_lsh_pairs(_docs(spark, sf_dir), num_hashes=8,
                               band_size=2, n=3)


def q_dedup_simhash(spark, sf_dir):
    # max_hamming bounds the band count (d+1 pigeonhole blocks): small d
    # keeps the per-band key wide enough that candidate buckets stay
    # tiny — d=20 would band 60 bits into 2-bit keys and explode the
    # candidate join to ~1e9 pairs at sf0.1.  With d+1 blocks the
    # banding is COMPLETE for distance ≤ d (pigeonhole), so the result
    # equals the exact all-pairs Hamming filter — which is what the
    # DuckDB oracle computes (same md5-derived bit votes, O(n²) join).
    return D.simhash_near_pairs(_docs(spark, sf_dir), max_hamming=6)


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clustering: LSH pairs closed under connectivity via the
    CC operator — oracled with a recursive-CTE transitive closure."""
    return D.near_duplicate_clusters(_docs(spark, sf_dir), num_hashes=8,
                                     band_size=2, n=3)


def q_dedup_contamination(spark, sf_dir):
    """Benchmark decontamination: docs with id < 20 stand in as the
    held-out benchmark; every training doc is flagged with its count
    of 5-gram collisions against it."""
    docs = _docs(spark, sf_dir)
    benchmark = docs.where(F.col("doc_id") < 20)
    return D.contamination_flags(docs, benchmark, n=5)


def q_dedup_embedding_cosine(spark, sf_dir):
    return D.embedding_cosine_pairs(_emb(spark, sf_dir), threshold=0.35)


def q_text_token_stats(spark, sf_dir):
    return T.token_stats(_docs(spark, sf_dir))


def q_text_quality(spark, sf_dir):
    return T.quality_score(_docs(spark, sf_dir))


def q_text_quality_logit(spark, sf_dir):
    """Model-shaped quality filter (round-4, kgloom/ops/textstats.py
    quality_logit): a deterministic linear classifier over the
    quality_score integer signals — ``bias + Σ wᵢ·xᵢ`` folded in
    sorted feature order with plain double ops, so the DuckDB oracle
    reproduces the logit bit-for-bit.  Pure Catalyst: one select over
    the signal projection, no shuffle."""
    return T.quality_logit(_docs(spark, sf_dir))


def q_kg_negative_samples(spark, sf_dir):
    """KG-embedding negative sampling (round-4,
    kgloom/ops/negatives.py): ``n_neg`` object-corrupted copies per
    positive triple over the nation/region fragment KG — vocabulary
    densely indexed by a pure-Catalyst two-phase md5-bucket rank (no
    single-partition global sort), replacement entity by an
    engine-portable md5 draw, collisions with true triples flagged
    via a (subj, pred) → object-set membership join.  The DuckDB twin
    replays the identical index and draw.  The input triples are
    persisted first: the sampler references them from three plan
    branches (expansion, vocabulary, truth sets), and re-running the
    whole construction plan per branch tripled the exchange count."""
    from kgloom.ops.cache import tracked_persist
    from kgloom.ops.negatives import negative_samples
    tri = tracked_persist(q_kg_fragment_multi(spark, sf_dir))
    return negative_samples(tri, n_neg=20)


def q_text_bigram_lm(spark, sf_dir):
    """Perplexity-proxy quality scoring (round-4, kgloom/ops/lm.py):
    add-k smoothed bigram log-likelihood of each document under the
    corpus's own bigram LM — the KenLM-style filtering slot.  Counts
    are hash aggregates; the per-doc sum is an ORDERED fold (sort by
    gram position + sequential F.aggregate), never a partition-order
    SUM, so the DuckDB twin (list(lp ORDER BY pos) + list_reduce)
    reproduces the double bit-for-bit."""
    from kgloom.ops.lm import bigram_lm_scores
    return bigram_lm_scores(_docs(spark, sf_dir), k_smooth=0.5)


def q_retrieval_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval (round-4, kgloom/ops/retrieval.py rrf_fuse):
    BM25 keyword top-50 fused with embedding-cosine top-50 by
    reciprocal-rank fusion (score = Σ 1/(60+rank)).  Both retrievers
    bound their lists BEFORE fusion (TakeOrderedAndProject / broadcast
    scored scan), so fusion cost is O(k), not O(corpus); the DuckDB
    twin replays both rankings and the coalesced double sum exactly."""
    from kgloom.ops.retrieval import hybrid_rrf
    return hybrid_rrf(_docs(spark, sf_dir), _emb(spark, sf_dir),
                      "spark join merge window data", query_vec_id=7,
                      k_each=50)


def q_ann_hard_negatives(spark, sf_dir):
    """Contrastive hard-negative mining (round-4,
    kgloom/ops/similarity.py hard_negative_pairs): per query vector,
    the top-5 neighbors with cosine in [0.25, 0.95) — informative
    negatives below the near-duplicate ceiling.  Band filter runs
    before the per-query window so out-of-band pairs never shuffle."""
    from kgloom.ops.similarity import hard_negative_pairs
    return hard_negative_pairs(_emb(spark, sf_dir), lo=0.25, hi=0.95,
                               k=5, query_ids=list(range(10)))


def q_text_chunks(spark, sf_dir):
    """Sliding-window chunking with overlap (round-4,
    kgloom/ops/textstats.py:chunk_text): 32-token chunks, 8-token
    overlap — the RAG/context splitter.  Shuffle-free (per-row explode
    + slice inside the scan stage); the DuckDB oracle replays the
    identical window arithmetic with list slicing."""
    return T.chunk_text(_docs(spark, sf_dir), chunk_tokens=32,
                        overlap_tokens=8)


def q_text_repetition(spark, sf_dir):
    """Gopher-style n-gram repetition signals (kgloom/ops/textstats.py
    repetition_stats): bigram totals/distincts and the most-frequent-
    bigram count per document — thresholdable into duplicate-n-gram
    fraction and top-n-gram coverage.  Map-side array work, no
    shuffle, no Python."""
    return T.repetition_stats(_docs(spark, sf_dir), n=2)


def q_text_commonness(spark, sf_dir):
    """Corpus-level bigram commonness (kgloom/ops/textstats.py
    ngram_commonness): per document, how many of its distinct bigrams
    appear in >= 3 documents — the integer novelty signal (fresh
    content scores low commonness, stock-phrase boilerplate high).
    Inverted-index shape: explode distinct grams, one DF aggregate,
    one semi-join back."""
    return T.ngram_commonness(_docs(spark, sf_dir), n=2, min_df=3)


def q_text_bpe_merges(spark, sf_dir):
    """Distributed BPE merge learning (kgloom/ops/lm.py:
    learn_bpe_merges): the first 32 byte-pair merges over the document
    corpus — vocabulary-sized iterated state, one hash aggregate +
    bounded candidate collect + a literal replace chain per round,
    the unit-separator representation making greedy leftmost merging
    a plain string replace in any engine.  batch_size=8 accepts
    multiple PROVABLY-sequential-equal merges per round (driver
    round-trips scale sub-linearly in n_merges — the round-5 item);
    the DuckDB twin chains the identical 32 rounds sequentially as
    CTEs, so the gate also proves batching is invisible."""
    from kgloom.ops.lm import learn_bpe_merges
    return learn_bpe_merges(_docs(spark, sf_dir), n_merges=32,
                            batch_size=8)


def q_text_apply_bpe(spark, sf_dir):
    """Apply the corpus-learned BPE merges back to the corpus
    (round-4, kgloom/ops/lm.py:apply_bpe): per-document word and
    subword counts after the 5 learned merges — the tokenizer
    fertility statistic.  The merge list is the bounded 5-row result
    of learn_bpe_merges (collected like the k-means centroids);
    application is a fixed chain of literal replaces over the
    unit-separated body, one narrow projection.  The DuckDB twin
    learns via the same CTE chain and applies nested replaces."""
    from kgloom.ops.lm import apply_bpe, learn_bpe_merges
    learned = learn_bpe_merges(_docs(spark, sf_dir), n_merges=5).collect()
    merges = [(r["left"], r["right"]) for r in sorted(
        learned, key=lambda r: r["rank"])]
    return apply_bpe(_docs(spark, sf_dir), merges)


def q_text_language_id(spark, sf_dir):
    return T.language_id(_docs(spark, sf_dir))


def q_text_fingerprint(spark, sf_dir):
    return T.fingerprint(_docs(spark, sf_dir))


def q_text_subwords(spark, sf_dir):
    return T.subword_stats(_docs(spark, sf_dir))


def q_text_redact_pii(spark, sf_dir):
    return T.redact_pii(_docs(spark, sf_dir))


def q_text_winnow(spark, sf_dir):
    return T.winnow_fingerprints(_docs(spark, sf_dir), k=5, window=4)


def q_text_bm25(spark, sf_dir):
    """BM25 keyword retrieval (kgloom/ops/retrieval.py): every document
    matching at least one query term, scored with the Lucene idf
    variant — postings filtered to the query vocabulary inside the
    explode, corpus scalars broadcast, one lazy plan."""
    from kgloom.ops.retrieval import bm25_scores
    return bm25_scores(_docs(spark, sf_dir), "spark join merge window data")


def q_graph_pagerank(spark, sf_dir):
    """PageRank over the constructed KG's IRI→IRI edges (partOf +
    usedTool triples): damped power iteration with dangling-mass
    redistribution, one shuffle per round, lineage truncated via
    localCheckpoint (kgloom/ops/graph.py)."""
    from kgloom.ops.graph import pagerank
    return pagerank(_kg_edges(spark, sf_dir), damping=0.85, iterations=3)


def q_graph_shortest_paths(spark, sf_dir):
    """Weighted multi-source shortest paths (kgloom/ops/graph.py
    shortest_paths): frontier-optimized Bellman-Ford over the
    turn-succession DAG — kg:next chain edges cost 1, turn→tool edges
    cost 3 — seeded at the opening turns of the conv-*0
    conversations, capped at 24 relaxation rounds (= min over ≤24-edge
    paths, the exact BF round semantics).  The DAG has a unique path
    per reached node, so the DuckDB twin replays it with a bounded
    recursive CTE."""
    from kgloom.ops.graph import shortest_paths
    turns = transcripts_from_events(spark, sf_dir)
    nxt, tool = _turn_succession(turns)
    sources = (turns.where((F.col("turn_idx") == 0) &
                           F.col("conv_id").endswith("0"))
               .select(_turn_iri(F.col("turn_idx")).alias("node")))
    return shortest_paths(
        nxt.withColumn("w", F.lit(1).cast("long")).unionByName(
            tool.withColumn("w", F.lit(3).cast("long"))),
        sources, weight="w", max_rounds=12)


def q_graph_reach_synopsis(spark, sf_dir):
    """Per-node ≤6-hop reachable-ball size estimates over the
    turn-succession DAG (kgloom/ops/graph.py reach_synopsis) — the
    HyperANF neighborhood-function idea with the deterministic KMV
    synopsis (k=8) in place of HyperLogLog.  Mergeability makes the
    6-round fold equal the true ball's synopsis exactly, so the
    DuckDB twin enumerates each ball with a hop-bounded recursive CTE
    and replays the same md5 estimate bit-for-bit.  Early turns
    (balls > k) exercise the estimator branch, late turns and tool
    leaves the exact branch."""
    from kgloom.ops.graph import reach_synopsis
    return reach_synopsis(_turn_dag(spark, sf_dir), radius=6, k=8)


def q_graph_harmonic(spark, sf_dir):
    """Truncated outward harmonic centrality
    (kgloom/ops/graph.py:harmonic_centrality; Boldi & Vigna 2014):
    H(v) = Σ_r (|B_r|−|B_{r−1}|)/r over the turn-succession DAG,
    radius 4, with ball sizes from the exact-by-mergeability KMV
    synopsis (k=8) — same recurrence as q_graph_reach_synopsis plus a
    one-row-per-node accumulator.  The DuckDB twin enumerates every
    ≤4-hop ball and replays the identical per-radius estimate and
    harmonic sum."""
    from kgloom.ops.graph import harmonic_centrality
    return harmonic_centrality(_turn_dag(spark, sf_dir), radius=4, k=8)


def q_graph_eff_diameter(spark, sf_dir):
    """0.9-effective diameter of the turn-succession DAG
    (kgloom/ops/graph.py:effective_diameter — THE HyperANF deliverable,
    Boldi et al. 2011): interpolated radius where the neighborhood
    function N(r) reaches 90% of its max, ball sizes from the
    deterministic KMV recurrence (k=8, radius 4).  The distance
    distribution is 5 scalars; nothing node-sized reaches the driver.
    The DuckDB twin enumerates the balls and replays the same sums and
    interpolation."""
    from kgloom.ops.graph import effective_diameter
    return effective_diameter(_turn_dag(spark, sf_dir), max_radius=4, k=8)


def q_graph_ppr(spark, sf_dir):
    """Personalized PageRank (round-4, kgloom/ops/graph.py:
    personalized_pagerank): random-walk-with-restart to the TOOL
    nodes over the symmetrized KG edges — ranks every turn and
    conversation by proximity to tool usage, the entity-relatedness
    query a KG serves after construction.  Seeds are a DataFrame
    (the tool IRIs), restart mass uniform over them; 3 rounds, one
    shuffle each, dangling mass teleports to the seeds (zero here —
    symmetrized graphs have no sinks — which the oracle replays
    identically).  DuckDB twin: unrolled restart-damped CTE rounds."""
    from kgloom.ops.graph import personalized_pagerank
    fwd = _kg_edges(spark, sf_dir)
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return personalized_pagerank(edges, _tool_nodes(fwd), damping=0.85,
                                 iterations=3)


def q_ann_rp_sketch(spark, sf_dir):
    """±1 random-projection sketch of int8-quantized embeddings
    (round-4, kgloom/ops/similarity.py:rp_sketch): 64 floats → 16
    exact BIGINT sums via a deterministic Rademacher matrix shared
    with the DuckDB twin — the Johnson–Lindenstrauss front of an ANN
    prefilter.  All-integer, so no ordered-fold machinery is needed;
    per-row projection pipelines inside the scan (no shuffle).

    The gate-facing output serializes the sketch to a comma-joined
    string: the driver's pandas canonicalizer cannot sort list
    columns (the transcripts_chat_render r4 failure class).  Library
    users get the array-typed sketch from rp_sketch directly."""
    sk = S.rp_sketch(_emb(spark, sf_dir), out_dim=16, in_dim=64)
    return sk.select(
        "vec_id",
        F.array_join(F.col("sketch").cast("array<string>"),
                     ",").alias("sketch"))


def q_graph_kg_profile(spark, sf_dir):
    """Per-predicate KG profile over the RDFS-closed turn KG
    (kgloom/ops/graph.py): triple counts, distinct subjects/objects,
    object-kind breakdown — one hash aggregate, the metrics report a
    construction pipeline emits per stage."""
    from kgloom.ops.graph import kg_profile
    return kg_profile(q_reason_rdfs_closure(spark, sf_dir))


def q_ann_cosine_topk(spark, sf_dir):
    return S.cosine_topk(_emb(spark, sf_dir), k=5,
                         query_ids=list(range(10))).select(
        "query_id", "neighbor_id", "rank")


def q_ann_quantized_topk(spark, sf_dir):
    """int8-quantized ANN (round-4, kgloom/ops/similarity.py): global
    symmetric scalar quantization (one aggregate, broadcast back, 4×
    less embedding IO at scale) then top-k on quantized cosine; the
    returned qdot is an exact integer dot product, so every output
    cell is drift-free and fully hashable.  The DuckDB oracle replays
    the identical quantize → integer-dot → rank pipeline."""
    return S.quantized_topk(_emb(spark, sf_dir), k=5,
                            query_ids=list(range(10)))


def q_ann_ivf_topk(spark, sf_dir):
    return S.ivf_topk(_emb(spark, sf_dir), k=3,
                      query_ids=list(range(20))).select(
        "query_id", "neighbor_id", "rank")


def q_ann_ivf_kmeans_topk(spark, sf_dir):
    # real Lloyd's k-means cells + probe + score.  Run with
    # n_probe = n_cells (exhaustive probing), which provably equals
    # exact brute-force top-k — giving the whole k-means
    # assign/probe/score machinery a plain-SQL oracle; the pruned
    # (n_probe < n_cells) configuration is covered by recall tests.
    return S.ivf_topk_kmeans(_emb(spark, sf_dir), k=3, n_cells=4,
                             n_probe=4, max_iter=2,
                             query_ids=list(range(8))).select(
        "query_id", "neighbor_id", "rank")


def q_curation_pipeline(spark, sf_dir):
    """Composed curation chain (kgloom/ops/curate.py): exact dedup →
    near dedup → quality filter → language filter, one lazy plan."""
    from kgloom.ops.curate import curate
    return curate(_docs(spark, sf_dir), jaccard_threshold=0.4,
                  min_tokens=3, langs=("en",))


def q_curate_temperature_mix(spark, sf_dir):
    """α-temperature corpus mixing (kgloom/ops/curate.py
    temperature_mixture, the XLM-R smoothing): per-language keep rate
    (n_min/n_lang)^(1-α) computed FROM the data — one broadcast
    language histogram + a broadcast 1-row minimum riding a narrow,
    shuffle-free md5 rank gate.  α=0.5 so the only irrational op is
    IEEE-exact sqrt: the row-level keep set replays bit-identically
    in the DuckDB twin."""
    from kgloom.ops.curate import temperature_mixture
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return temperature_mixture(docs, key="doc_id", strata="lang",
                               alpha=0.5).select("doc_id", "lang")


def q_curate_stratified_sample(spark, sf_dir):
    """Deterministic per-language downsampling (training-data mixing,
    kgloom/ops/curate.py): membership = md5(key||salt) hex-prefix under
    the stratum's rate threshold — a narrow shuffle-free filter whose
    decisions are identical across engines, reruns, and cluster sizes."""
    from kgloom.ops.curate import stratified_sample
    return stratified_sample(
        _docs(spark, sf_dir), key="doc_id", strata="lang",
        rates={"en": 0.5, "de": 0.25}, default_rate=0.1,
        salt="mix1").select("doc_id", "lang", "source")


def q_curate_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment by md5-rank ranges —
    same engine-portable hex-threshold rule as stratified_sample."""
    from kgloom.ops.curate import hash_split
    return hash_split(
        _docs(spark, sf_dir), key="doc_id",
        fractions={"train": 0.8, "val": 0.1, "test": 0.1},
        salt="split1").select("doc_id", "split")


def q_curate_dsir(spark, sf_dir):
    """DSIR importance resampling (kgloom/ops/curate.py:dsir_sample;
    Xie et al., NeurIPS 2023): per-document log likelihood ratio under
    hashed unigram+bigram models of the English-language target corpus
    vs the full raw corpus, then a deterministic Gumbel-top-k draw
    (P(doc) ∝ exp(logw), Gumbel = −ln(−ln(md5-fraction))).  Both
    models are ≤256-row aggregates; the λ table broadcasts into one
    explode + map-side-combining sum per document; the k-cut is
    TakeOrderedAndProject on (rounded score, doc_id) — no global sort,
    no Python, replayed exactly by the DuckDB twin."""
    from pyspark.sql import functions as F
    from kgloom.ops.curate import dsir_sample
    # the testdata table is one parquet file: without a repartition
    # the gram explode runs single-task (A/B at sf0.1: 4.7s -> 2.2s);
    # a real corpus arrives pre-split, a single-file one should be
    # spread before the explosion exactly like this
    docs = _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism)
    target = docs.where(F.col("lang") == "en")
    return dsir_sample(docs, target, 100, n_buckets=256)


def q_dedup_stream_gate(spark, sf_dir):
    """Streaming near-dup ingest gate, batch-replayed
    (kgloom/streaming/neardedup.py:flag_against — the exact
    foreachBatch recurrence driven over three deterministic arrival
    batches): a document is rejected iff it LSH-collides with an
    earlier-arrived document; ``via_history`` attributes the hit to a
    prior batch.  Ids are re-keyed '{batch}-{zero-padded id}' so
    arrival order == string id order and the stream rule equals the
    batch drop-the-larger-id rule, which the DuckDB twin replays from
    the same md5 MinHash bands."""
    from kgloom.streaming.neardedup import flag_against
    docs = _docs(spark, sf_dir)
    sid = F.concat((F.col("doc_id") % 3).cast("string"), F.lit("-"),
                   F.lpad(F.col("doc_id").cast("string"), 6, "0"))
    hist = None
    outs = []
    for b in range(3):
        batch = (docs.where(F.col("doc_id") % 3 == b)
                 .select(sid.alias("doc_id"), "text"))
        flags, bands = flag_against(hist, batch)
        outs.append(flags)
        hist = bands if hist is None else hist.unionByName(bands)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def q_kg_rdf_merge(spark, sf_dir):
    """RDF merge with blank-node standardization
    (kgloom/ops/star.py:rdf_merge; RDF 1.1 Semantics §5.1): two
    bnode-subject description graphs over the same documents — a
    plain union would wrongly identify the same-labelled bnodes
    across graphs; the merge standardizes them apart per input tag.
    Map-side term rewriting + one distinct."""
    from kgloom.ops.star import rdf_merge
    docs = _docs(spark, sf_dir)
    bnode = F.concat(F.lit("_:d"), F.col("doc_id").cast("string"))
    g1 = docs.select(bnode.alias("subj"),
                     F.lit(f"<{_KGO}lang>").alias("pred"),
                     F.concat(F.lit('"'), F.col("lang"),
                              F.lit('"')).alias("obj"))
    g2 = docs.select(bnode.alias("subj"),
                     F.lit(f"<{_KGO}source>").alias("pred"),
                     F.concat(F.lit('"'), F.col("source"),
                              F.lit('"')).alias("obj"))
    return rdf_merge({"a": g1, "b": g2})


def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware near-dedup resolution
    (kgloom/ops/dedup.py:keep_best_in_clusters over
    near_duplicate_clusters): from every LSH-connected near-duplicate
    cluster keep the longest document (score = n_chars), ties to the
    smallest doc_id — the RefinedWeb-style keep-best policy instead of
    keep-min-id.  One join + one window on cluster_id on top of the
    exact-dedup-first clustering; the DuckDB twin nests the full
    recursive-CTE clustering replay."""
    from kgloom.ops.dedup import (keep_best_in_clusters,
                                  near_duplicate_clusters)
    docs = _docs(spark, sf_dir)
    clusters = near_duplicate_clusters(docs)
    scores = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("n_chars").cast("long").alias("score"))
    return keep_best_in_clusters(clusters, scores)


def q_text_normalize(spark, sf_dir):
    """Pre-tokenization text normalization
    (kgloom/ops/textstats.py:normalize_text): control-char strip,
    zero-width strip, whitespace collapse, trim — idempotent, pure
    Catalyst.  The query dirties each document deterministically
    (padding, tabs, a control char) before normalizing so the
    transforms are actually exercised; the DuckDB twin applies the
    same regexes with the 'g' flag."""
    from kgloom.ops.textstats import normalize_text
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("  "), F.col("text"),
                 F.lit("\t xy ")).alias("text"))
    return normalize_text(docs)


def q_curate_label_vote(spark, sf_dir):
    """Weak-supervision majority vote (kgloom/ops/label.py; Ratner et
    al. VLDB 2018): three deterministic labeling functions
    (length-based keep/drop, English keep, source blocklist drop) vote
    per document; the aggregator emits the majority with
    lexicographic tie-break, total votes, and the winner-vs-runner-up
    margin.  LFs are map-side CASEs; aggregation = one explode + one
    partial-combining groupBy + one window — all keyed on doc_id."""
    from kgloom.ops.label import apply_lfs, majority_label
    lf = apply_lfs(_docs(spark, sf_dir), {
        "lf_len": F.when(F.col("n_chars") >= 150, "keep")
                   .when(F.col("n_chars") < 80, "drop"),
        "lf_en": F.when(F.col("lang") == "en", "keep"),
        "lf_src": F.when(F.col("source").isin("src0", "src1"), "drop"),
    })
    return majority_label(lf, "doc_id", ["lf_en", "lf_len", "lf_src"])


def q_curate_group_sample(spark, sf_dir):
    """Exact-count deterministic per-group sampling
    (kgloom/ops/curate.py:per_group_sample): the 100 smallest
    md5(doc_id||salt) ranks per language — "k docs per stratum" with
    rerun/parallelism-stable membership.  One window shuffle; the
    DuckDB twin is the same ROW_NUMBER over the same rank."""
    from kgloom.ops.curate import per_group_sample
    return per_group_sample(_docs(spark, sf_dir), key="doc_id",
                            group="lang", k=100,
                            salt="gs1").select("doc_id", "lang")


def q_pack_concat_chunk(spark, sf_dir):
    """Concat-and-chunk sequence packing (kgloom/ops/packing.py): the
    GPT-style pretraining scheme — per md5 bucket, documents in doc_id
    order form one token stream chunked every 2048 tokens; a document
    records the chunk it starts in, its offset, and whether it
    straddles the boundary.  One window cumsum = one shuffle; pure
    Catalyst; replayed exactly by the DuckDB window oracle."""
    from kgloom.ops.packing import pack_concat_chunk
    from kgloom.ops import textstats as T
    toks = T.token_stats(_docs(spark, sf_dir)).select("doc_id", "n_tokens")
    return pack_concat_chunk(toks, "doc_id", "n_tokens",
                             budget=2048, n_buckets=8)


def q_pack_greedy(spark, sf_dir):
    """First-fit-in-order greedy packing (kgloom/ops/packing.py):
    documents never split; a pack closes when the next document would
    overflow the 2048-token budget.  Stateful-by-definition per
    stream, so it runs as Arrow-batched applyInPandas over md5
    buckets; the DuckDB oracle replays the sequential discipline with
    a recursive CTE walking each bucket in doc_id order."""
    from kgloom.ops.packing import pack_greedy
    from kgloom.ops import textstats as T
    toks = T.token_stats(_docs(spark, sf_dir)).select("doc_id", "n_tokens")
    return pack_greedy(toks, "doc_id", "n_tokens",
                       budget=2048, n_buckets=8)


def q_multimodal_features(spark, sf_dir):
    # binary-decode plumbing with deterministic fake kernel.  The
    # synthetic asset table is a pure function of range(64), so the
    # DuckDB oracle regenerates it from generate_series and checks the
    # mapInPandas output (n_bytes computed Python-side per Arrow batch)
    # against the closed form 10 * (4 + len(str(id))).
    from kgloom.ops.multimodal import extract_features, synth_assets
    feats = extract_features(synth_assets(spark, 64), batch_fake=True)
    return feats.select("asset_id", "modality", "n_bytes")


_KGO = "http://kg.example/ontology/"
_KG_PREFIX = f"PREFIX kg: <{_KGO}>"

#: relational replay of the turn-triples plan (one SELECT per template
#: line) against a `tr` CTE of TRANSCRIPTS_SQL — shared by the
#: turn-triples oracle and the reasoning oracles built on top of it
_TURN_TRIPLES_UNION = """
              SELECT '<http://kg.example/conv/' || conv_id || '/turn/'
                       || CAST(turn_idx AS VARCHAR) || '>' AS subj,
                     '<http://kg.example/ontology/partOf>' AS pred,
                     '<http://kg.example/conv/' || conv_id || '>' AS obj
              FROM tr
              UNION ALL
              SELECT '<http://kg.example/conv/' || conv_id || '/turn/'
                       || CAST(turn_idx AS VARCHAR) || '>',
                     '<http://kg.example/ontology/role>',
                     '"' || role || '"'
              FROM tr
              UNION ALL
              SELECT '<http://kg.example/conv/' || conv_id || '/turn/'
                       || CAST(turn_idx AS VARCHAR) || '>',
                     '<http://kg.example/ontology/text>',
                     '"' || text || '"'
              FROM tr
              UNION ALL
              SELECT '<http://kg.example/conv/' || conv_id || '/turn/'
                       || CAST(turn_idx AS VARCHAR) || '>',
                     '<http://kg.example/ontology/usedTool>',
                     '<http://kg.example/tool/' || tool || '>'
              FROM tr WHERE tool IS NOT NULL
"""

#: inline ontology over the turn-triples vocabulary (reasoning demo —
#: part of the query, not external data): a two-deep subPropertyOf
#: chain, domain/range axioms for usedTool/partOf, a two-deep
#: subClassOf chain.  The SQL oracle replays the SAME literal rows.
_REASON_ONTOLOGY: list[tuple[str, str, str]] = [
    (f"<{_KGO}usedTool>", "subPropertyOf", f"<{_KGO}involvedResource>"),
    (f"<{_KGO}partOf>", "subPropertyOf", f"<{_KGO}involvedResource>"),
    (f"<{_KGO}involvedResource>", "subPropertyOf", f"<{_KGO}related>"),
    (f"<{_KGO}usedTool>", "domain", f"<{_KGO}ToolTurn>"),
    (f"<{_KGO}usedTool>", "range", f"<{_KGO}Tool>"),
    (f"<{_KGO}partOf>", "domain", f"<{_KGO}Turn>"),
    (f"<{_KGO}partOf>", "range", f"<{_KGO}Conversation>"),
    (f"<{_KGO}ToolTurn>", "subClassOf", f"<{_KGO}Turn>"),
    (f"<{_KGO}Turn>", "subClassOf", f"<{_KGO}Node>"),
    (f"<{_KGO}Conversation>", "subClassOf", f"<{_KGO}Node>"),
]

_OWL_EQC = "<http://www.w3.org/2002/07/owl#equivalentClass>"
_OWL_EQP = "<http://www.w3.org/2002/07/owl#equivalentProperty>"

#: equivalence axioms layered on _REASON_ONTOLOGY for the
#: reason_owl_equiv query (rdfp12/13): an equivalentClass CHAIN off
#: Conversation (symmetric+transitive closure of ≡ must surface), an
#: equivalentProperty alias of usedTool (instance edges generalize to
#: it AND flow back through its own superproperty), and a mutual
#: subClassOf cycle with NO equivalence axiom (rdfp12c must derive it).
_EQUIV_ONTOLOGY: list[tuple[str, str, str]] = [
    (f"<{_KGO}Conversation>", _OWL_EQC, f"<{_KGO}Thread>"),
    (f"<{_KGO}Thread>", _OWL_EQC, f"<{_KGO}Dialogue>"),
    (f"<{_KGO}usedTool>", _OWL_EQP, f"<{_KGO}invokedTool>"),
    (f"<{_KGO}invokedTool>", "subPropertyOf", f"<{_KGO}action>"),
    (f"<{_KGO}Tool>", "subClassOf", f"<{_KGO}Capability>"),
    (f"<{_KGO}Capability>", "subClassOf", f"<{_KGO}Tool>"),
]


def q_sparql_kg_group_concat(spark, sf_dir):
    """SPARQL GROUP_CONCAT + SAMPLE over the constructed KG
    (kgloom/sparql.py): per conversation, the sorted comma-joined set
    of distinct tool IRIs, a sample role, and the tool-turn count —
    all one groupBy/agg."""
    from kgloom.sparql import sparql_select
    return sparql_select(_turn_quads(spark, sf_dir), _KG_PREFIX + """
        SELECT ?conv
               (GROUP_CONCAT(DISTINCT ?tool; SEPARATOR=",") AS ?tools)
               (SAMPLE(?role) AS ?arole)
               (COUNT(*) AS ?n_tool_turns)
        WHERE {
          ?turn kg:partOf ?conv ;
                kg:role ?role ;
                kg:usedTool ?tool .
        } GROUP BY ?conv
    """)


def q_reason_owl_properties(spark, sf_dir):
    """OWL-Horst property rules (kgloom/ops/reasoning.py
    owl_property_closure) over an entity-chain KG: kg:follows edges
    chain consecutive entity ids (transitive, inverseOf kg:precedes —
    itself transitive), kg:adjacentTo is symmetric.  The closure runs
    distributed path doubling per transitive property; the oracle
    replays it as a recursive CTE."""
    from kgloom.ops.reasoning import (OWL_INVERSE_OF, OWL_SYMMETRIC,
                                      OWL_TRANSITIVE, RDF_TYPE,
                                      owl_property_closure)
    from kgloom.transcripts.derive import transcripts_from_events
    turns = transcripts_from_events(spark, sf_dir)
    keys = (detect_mentions(turns)
            .select(F.col("norm_key").cast("int").alias("i")).distinct())
    # consecutive present ids: (i, i+1) where both exist
    a = keys.alias("a")
    b = keys.alias("b")
    cons = (a.join(b, F.col("b.i") == F.col("a.i") + 1)
            .select(F.col("a.i").alias("i"), F.col("b.i").alias("j")))

    def ent(c):
        return F.concat(F.lit("<http://kg.example/ent/Entity_"),
                        c.cast("string"), F.lit(">"))
    follows = cons.select(ent(F.col("i")).alias("subj"),
                          F.lit(f"<{_KGO}follows>").alias("pred"),
                          ent(F.col("j")).alias("obj"))
    adjacent = cons.select(ent(F.col("i")).alias("subj"),
                           F.lit(f"<{_KGO}adjacentTo>").alias("pred"),
                           ent(F.col("j")).alias("obj"))
    axioms = spark.createDataFrame([
        (f"<{_KGO}follows>", RDF_TYPE, OWL_TRANSITIVE),
        (f"<{_KGO}precedes>", RDF_TYPE, OWL_TRANSITIVE),
        (f"<{_KGO}follows>", OWL_INVERSE_OF, f"<{_KGO}precedes>"),
        (f"<{_KGO}adjacentTo>", RDF_TYPE, OWL_SYMMETRIC),
    ], "subj string, pred string, obj string")
    return owl_property_closure(follows.unionByName(adjacent), axioms)


def q_sparql_kg_nps(spark, sf_dir):
    """SPARQL negated property set over the constructed KG
    (kgloom/sparql.py): every edge whose predicate is NOT kg:text or
    kg:role — i.e. the partOf + usedTool structure without enumerating
    it — compiled to one NOT-IN-filtered scan."""
    from kgloom.sparql import sparql_select
    return sparql_select(_turn_quads(spark, sf_dir), _KG_PREFIX + """
        SELECT ?s ?o WHERE { ?s !(kg:text|kg:role) ?o . }
    """)


def q_sparql_kg_describe(spark, sf_dir):
    """SPARQL DESCRIBE over the constructed KG (kgloom/sparql.py):
    the symmetric description of every tool-invoking turn — all four
    of its outgoing triples — via DESCRIBE ?turn WHERE {{ role "tool" }};
    the resource set stays distributed (two semi joins, no collect)."""
    from kgloom.sparql import sparql_describe
    return sparql_describe(_turn_quads(spark, sf_dir), _KG_PREFIX + """
        DESCRIBE ?turn WHERE { ?turn kg:role "tool" . }
    """).select("subj", "pred", "obj")


_RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
_RDFS_SUBCLASS = "<http://www.w3.org/2000/01/rdf-schema#subClassOf>"
_RDFS_SUBPROP = "<http://www.w3.org/2000/01/rdf-schema#subPropertyOf>"
_RDFS_DOMAIN = "<http://www.w3.org/2000/01/rdf-schema#domain>"
_RDFS_RANGE = "<http://www.w3.org/2000/01/rdf-schema#range>"
_REASON_PRED_IRI = {"subPropertyOf": _RDFS_SUBPROP, "domain": _RDFS_DOMAIN,
                    "range": _RDFS_RANGE, "subClassOf": _RDFS_SUBCLASS}


def _reason_ontology_values() -> str:
    """_REASON_ONTOLOGY as a SQL VALUES list — the oracle reads the
    ontology from the same literal rows the Spark query does."""
    return ",\n              ".join(
        f"('{s}', '{_REASON_PRED_IRI[p]}', '{o}')"
        for s, p, o in _REASON_ONTOLOGY)


def _rdfs_closure_sql() -> str:
    """RDFS ρdf closure replay: sp/sc transitive closures as recursive
    CTEs over the SAME ontology literals the Spark query uses
    (_REASON_ONTOLOGY), then one SELECT per rule — rdfs7 (subproperty
    inheritance), rdfs2/3 (domain/range typing over the
    rdfs7-generalized triples), rdfs9 (subclass lifting over asserted +
    derived types), unioned with the closed schema and
    set-deduplicated, mirroring the WebPIE stratification in
    kgloom/ops/reasoning.py.  Shared by the reason_rdfs_closure and
    graph_kg_profile oracles."""
    return f"""
            WITH RECURSIVE tr AS ({TRANSCRIPTS_SQL}),
            inst AS (SELECT * FROM ({_TURN_TRIPLES_UNION})),
            ont(subj, pred, obj) AS (VALUES {_reason_ontology_values()}),
            sp(a, b) AS (
              SELECT subj, obj FROM ont WHERE pred = '{_RDFS_SUBPROP}'
              UNION
              SELECT sp.a, o.obj FROM sp
              JOIN ont o ON sp.b = o.subj AND o.pred = '{_RDFS_SUBPROP}'
              WHERE sp.a <> o.obj),
            sc(a, b) AS (
              SELECT subj, obj FROM ont WHERE pred = '{_RDFS_SUBCLASS}'
              UNION
              SELECT sc.a, o.obj FROM sc
              JOIN ont o ON sc.b = o.subj AND o.pred = '{_RDFS_SUBCLASS}'
              WHERE sc.a <> o.obj),
            inst_all AS (
              SELECT * FROM inst
              UNION ALL
              SELECT i.subj, sp.b AS pred, i.obj
              FROM inst i JOIN sp ON i.pred = sp.a),
            types(s, c) AS (
              SELECT subj, obj FROM inst_all WHERE pred = '{_RDF_TYPE}'
              UNION ALL
              SELECT i.subj, o.obj FROM inst_all i
              JOIN ont o ON i.pred = o.subj AND o.pred = '{_RDFS_DOMAIN}'
              UNION ALL
              SELECT i.obj, o.obj FROM inst_all i
              JOIN ont o ON i.pred = o.subj AND o.pred = '{_RDFS_RANGE}'
              WHERE i.obj LIKE '<%')
            SELECT DISTINCT subj, pred, obj FROM (
              SELECT * FROM inst_all
              UNION ALL
              SELECT s, '{_RDF_TYPE}', c FROM types
              UNION ALL
              SELECT t.s, '{_RDF_TYPE}', sc.b FROM types t
              JOIN sc ON t.c = sc.a
              UNION ALL
              SELECT * FROM ont
              UNION ALL
              SELECT a, '{_RDFS_SUBPROP}', b FROM sp
              UNION ALL
              SELECT a, '{_RDFS_SUBCLASS}', b FROM sc)
    """


def q_reason_rdfs_closure(spark, sf_dir):
    """RDFS (ρdf) materialization of the constructed turn KG under an
    inline ontology (kgloom/ops/reasoning.py): subPropertyOf chains
    generalize usedTool/partOf triples, domain/range axioms derive
    rdf:type triples, subClassOf chains lift them — the WebPIE-style
    stratified one-pass-per-rule plan with broadcast schema joins."""
    from kgloom.ops.reasoning import rdfs_closure
    triples = q_transcripts_turn_triples(spark, sf_dir)
    schema = spark.createDataFrame(
        [(s, _REASON_PRED_IRI[p], o) for s, p, o in _REASON_ONTOLOGY],
        "subj string, pred string, obj string")
    return rdfs_closure(triples, schema=schema, include_schema=True)


def _owl_equiv_sql() -> str:
    """OWL-Horst rdfp12/13 replay: the equivalence axioms are rewritten
    into both-direction subsumption edges feeding the SAME recursive
    sp/sc CTEs as the ρdf replay, and the final union back-derives
    equivalence from mutual subsumption via a swapped self-join —
    mirroring kgloom/ops/reasoning.py owl_equivalence_closure."""
    equiv_values = ",\n              ".join(
        f"('{s}', '{_REASON_PRED_IRI.get(p, p)}', '{o}')"
        for s, p, o in _EQUIV_ONTOLOGY)
    return f"""
            WITH RECURSIVE tr AS ({TRANSCRIPTS_SQL}),
            inst AS (SELECT * FROM ({_TURN_TRIPLES_UNION})),
            ont0(subj, pred, obj) AS (VALUES {_reason_ontology_values()},
              {equiv_values}),
            aug(subj, pred, obj) AS (
              SELECT subj, pred, obj FROM ont0
              WHERE pred NOT IN ('{_OWL_EQC}', '{_OWL_EQP}')
              UNION
              SELECT subj, '{_RDFS_SUBCLASS}', obj FROM ont0
              WHERE pred = '{_OWL_EQC}'
              UNION
              SELECT obj, '{_RDFS_SUBCLASS}', subj FROM ont0
              WHERE pred = '{_OWL_EQC}'
              UNION
              SELECT subj, '{_RDFS_SUBPROP}', obj FROM ont0
              WHERE pred = '{_OWL_EQP}'
              UNION
              SELECT obj, '{_RDFS_SUBPROP}', subj FROM ont0
              WHERE pred = '{_OWL_EQP}'),
            sp(a, b) AS (
              SELECT subj, obj FROM aug WHERE pred = '{_RDFS_SUBPROP}'
              UNION
              SELECT sp.a, o.obj FROM sp
              JOIN aug o ON sp.b = o.subj AND o.pred = '{_RDFS_SUBPROP}'
              WHERE sp.a <> o.obj),
            sc(a, b) AS (
              SELECT subj, obj FROM aug WHERE pred = '{_RDFS_SUBCLASS}'
              UNION
              SELECT sc.a, o.obj FROM sc
              JOIN aug o ON sc.b = o.subj AND o.pred = '{_RDFS_SUBCLASS}'
              WHERE sc.a <> o.obj),
            inst_all AS (
              SELECT * FROM inst
              UNION ALL
              SELECT i.subj, sp.b AS pred, i.obj
              FROM inst i JOIN sp ON i.pred = sp.a),
            types(s, c) AS (
              SELECT subj, obj FROM inst_all WHERE pred = '{_RDF_TYPE}'
              UNION ALL
              SELECT i.subj, o.obj FROM inst_all i
              JOIN aug o ON i.pred = o.subj AND o.pred = '{_RDFS_DOMAIN}'
              UNION ALL
              SELECT i.obj, o.obj FROM inst_all i
              JOIN aug o ON i.pred = o.subj AND o.pred = '{_RDFS_RANGE}'
              WHERE i.obj LIKE '<%')
            SELECT DISTINCT subj, pred, obj FROM (
              SELECT * FROM inst_all
              UNION ALL
              SELECT s, '{_RDF_TYPE}', c FROM types
              UNION ALL
              SELECT t.s, '{_RDF_TYPE}', sc.b FROM types t
              JOIN sc ON t.c = sc.a
              UNION ALL
              SELECT * FROM aug
              UNION ALL
              SELECT a, '{_RDFS_SUBPROP}', b FROM sp
              UNION ALL
              SELECT a, '{_RDFS_SUBCLASS}', b FROM sc
              UNION ALL
              SELECT s1.a, '{_OWL_EQC}', s1.b FROM sc s1
              JOIN sc s2 ON s1.a = s2.b AND s1.b = s2.a
              WHERE s1.a <> s1.b
              UNION ALL
              SELECT p1.a, '{_OWL_EQP}', p1.b FROM sp p1
              JOIN sp p2 ON p1.a = p2.b AND p1.b = p2.a
              WHERE p1.a <> p1.b)
    """


def q_reason_owl_equiv(spark, sf_dir):
    """OWL-Horst equivalence rules rdfp12a/b/c + rdfp13a/b/c
    (kgloom/ops/reasoning.py owl_equivalence_closure) over the
    constructed turn KG: an equivalentClass chain off Conversation, an
    equivalentProperty alias of usedTool with its own superproperty,
    and a mutual-subClassOf cycle with NO equivalence axiom that
    rdfp12c must surface as one.  Equivalence axioms are rewritten to
    both-direction subsumption edges feeding the one-pass stratified
    ρdf closure (schema-level, broadcast); the back-derivation is a
    schema-sized swapped self-join.  The oracle replays it as
    recursive CTEs."""
    from kgloom.ops.reasoning import owl_equivalence_closure
    triples = q_transcripts_turn_triples(spark, sf_dir)
    schema = spark.createDataFrame(
        [(s, _REASON_PRED_IRI[p], o) for s, p, o in _REASON_ONTOLOGY]
        + [(s, _REASON_PRED_IRI.get(p, p), o) for s, p, o in _EQUIV_ONTOLOGY],
        "subj string, pred string, obj string")
    return owl_equivalence_closure(triples, schema=schema,
                                   include_schema=True,
                                   # the turn KG emits only the four
                                   # mapping predicates — no equivalence
                                   # rows on the instance side, so the
                                   # full-closure distinct is skipped
                                   instance_equiv_free=True)


def _sameas_kg(spark, sf_dir):
    """The three-namespace entity KG shared by the sameAs-fusion
    queries: mention triples on <ent/…>, labels on <legacy/…>, and a
    sameAs CHAIN ent→alias→legacy declaring them equal."""
    from kgloom.ops.cache import tracked_persist
    from kgloom.ops.reasoning import OWL_SAMEAS
    from kgloom.transcripts.derive import transcripts_from_events
    turns = transcripts_from_events(spark, sf_dir)
    # the mention stream feeds four branches (two sameAs directions,
    # labels, mention triples) — persist the scan+regex pass once
    detected = tracked_persist(detect_mentions(turns))
    m = detected.select("norm_key").distinct()
    ent = F.concat(F.lit("<http://kg.example/ent/Entity_"),
                   F.col("norm_key"), F.lit(">"))
    alias = F.concat(F.lit("<http://kg.example/alias/entity-"),
                     F.col("norm_key"), F.lit(">"))
    legacy = F.concat(F.lit("<http://kg.example/legacy/"),
                      F.col("norm_key"), F.lit(">"))
    sameas = (m.select(ent.alias("subj"), F.lit(OWL_SAMEAS).alias("pred"),
                       alias.alias("obj"))
              .unionByName(m.select(alias.alias("subj"),
                                    F.lit(OWL_SAMEAS).alias("pred"),
                                    legacy.alias("obj"))))
    labels = m.select(legacy.alias("subj"),
                      F.lit(f"<{_KGO}label>").alias("pred"),
                      F.concat(F.lit('"Entity_'), F.col("norm_key"),
                               F.lit('"')).alias("obj"))
    mentions = (detected
                .select(F.concat(F.lit("<http://kg.example/conv/"),
                                 F.col("conv_id"), F.lit("/turn/"),
                                 F.col("turn_idx"), F.lit(">")).alias("subj"),
                        F.lit(f"<{_KGO}mentions>").alias("pred"),
                        F.concat(F.lit("<http://kg.example/ent/Entity_"),
                                 F.col("norm_key"), F.lit(">")).alias("obj")))
    return mentions.unionByName(labels).unionByName(sameas)


def q_reason_ifp_sameas(spark, sf_dir):
    """OWL-Horst rdfp2 identity derivation (round-4,
    kgloom/ops/reasoning.py:ifp_same_as): documents keyed by their
    5-token prefix as an owl:InverseFunctionalProperty — subjects
    sharing the key become owl:sameAs candidates (entity-resolution
    blocking expressed as OWL semantics; the edges feed same_as_fusion
    / the streaming fusion directly).  One broadcast-semi-join against
    the axiom set + one hash self-join on the shared (property, value)
    key, with the LSH-style group cap guarding placeholder-value skew.
    The DuckDB oracle replays the self-join on rendered IRIs."""
    from kgloom.ops.reasoning import (OWL_INV_FUNCTIONAL, RDF_TYPE,
                                      ifp_same_as)
    docs = _docs(spark, sf_dir)
    key = F.concat(
        F.lit('"'),
        F.array_join(F.slice(F.split(F.lower("text"), " "), 1, 5), " "),
        F.lit('"'))
    triples = docs.select(
        F.concat(F.lit(f"<{_KGO}doc/"), F.col("doc_id").cast("string"),
                 F.lit(">")).alias("subj"),
        F.lit(f"<{_KGO}prefixKey>").alias("pred"),
        key.alias("obj"))
    schema = spark.createDataFrame(
        [(f"<{_KGO}prefixKey>", RDF_TYPE, OWL_INV_FUNCTIONAL)],
        "subj string, pred string, obj string")
    return ifp_same_as(triples, schema)


def q_reason_sameas_fusion(spark, sf_dir):
    """owl:sameAs fusion over an entity KG with three IRI namespaces
    per entity (kgloom/ops/reasoning.py).  Fusion runs real connected
    components over the sameAs edges (size-gated driver/distributed CC)
    and rewrites both subject and object positions to the component
    minimum — which the SQL oracle replays because the chain structure
    makes each component's canonical a closed form of the entity key."""
    from kgloom.ops.reasoning import same_as_fusion
    return same_as_fusion(_sameas_kg(spark, sf_dir))


def q_reason_sameas_incremental(spark, sf_dir):
    """The streaming fusion module's incremental alias-map recurrence
    (kgloom/streaming/fusion.py fold_alias_map: map_k = CC(map_{k-1} ∪
    edges_k)), folded over three deterministic hash-buckets of the
    same KG — each entity's two-edge sameAs chain lands in different
    buckets for ~5/9 of entities, so cross-batch component merges are
    exercised at scale.  Must equal one-shot fusion: same oracle SQL
    as reason_sameas_fusion."""
    from kgloom.ops.reasoning import OWL_SAMEAS, rewrite_canonical
    from kgloom.streaming.fusion import fold_alias_map
    kg = _sameas_kg(spark, sf_dir).withColumn(
        "__b", F.pmod(F.xxhash64("subj", "pred", "obj"), F.lit(3)))
    mapping = None
    for i in range(3):
        edges = (kg.where((F.col("__b") == i) &
                          (F.col("pred") == OWL_SAMEAS))
                 .select(F.col("subj").alias("src"),
                         F.col("obj").alias("dst"))
                 .where(F.col("src") != F.col("dst")))
        mapping = fold_alias_map(mapping, edges).localCheckpoint()
    data = kg.where(F.col("pred") != OWL_SAMEAS).drop("__b")
    return rewrite_canonical(data, mapping)


def q_reason_shacl(spark, sf_dir):
    """SHACL-lite validation report over the constructed turn KG
    (kgloom/ops/reasoning.py): focus = subjects of kg:partOf (every
    turn); kg:role constrained to exactly one value in
    {"user","assistant"} (tool turns violate `in`), kg:usedTool
    required and IRI-kinded (non-tool turns violate minCount).  One
    scan feeds all constraints; counts are one groupBy over the
    focus×path grid."""
    from kgloom.ops.reasoning import NodeShape, PropertyShape, shacl_validate
    triples = q_transcripts_turn_triples(spark, sf_dir)
    shape = NodeShape(
        name="TurnShape", target_subjects_of=f"<{_KGO}partOf>",
        properties=(
            PropertyShape(path=f"<{_KGO}role>", min_count=1, max_count=1,
                          in_values=('"user"', '"assistant"')),
            PropertyShape(path=f"<{_KGO}usedTool>", min_count=1,
                          node_kind="IRI"),
        ))
    return shacl_validate(triples, (shape,))


def q_kg_wl_signatures(spark, sf_dir):
    """WL structural-signature groups over the turn KG
    (kgloom/ops/canonical.py): 2 rounds of 1-WL color refinement with
    the per-turn kg:text literals dropped, so turns collapse into
    structural classes (role × tool-edge shape) and conversations
    fingerprint by the MULTISET of their turns' classes — whole-
    subgraph template dedup, not row dedup.  Per round: two node-keyed
    joins + one groupBy, colors persisted; fixed k keeps it exactly
    replayable as the oracle's unrolled CTE chain."""
    from kgloom.ops.canonical import wl_signature_groups
    triples = (q_transcripts_turn_triples(spark, sf_dir)
               .where(F.col("pred") != f"<{_KGO}text>"))
    return wl_signature_groups(triples, iterations=2)


def q_reason_shacl_incremental(spark, sf_dir):
    """Streaming incremental SHACL (kgloom/streaming/validation.py):
    the turn KG folded in three deterministic hash-buckets — state_k =
    distinct(state_{k-1} ∪ slice(batch_k)), report derived at read
    time — so minCount violations appear and RETRACT as a turn's
    triples land in different buckets.  Must equal one-shot
    validation: same oracle SQL as reason_shacl."""
    import tempfile
    from kgloom.ops.reasoning import NodeShape, PropertyShape
    from kgloom.streaming.validation import read_report, validate_batch
    shapes = (NodeShape(
        name="TurnShape", target_subjects_of=f"<{_KGO}partOf>",
        properties=(
            PropertyShape(path=f"<{_KGO}role>", min_count=1, max_count=1,
                          in_values=('"user"', '"assistant"')),
            PropertyShape(path=f"<{_KGO}usedTool>", min_count=1,
                          node_kind="IRI"),
        )),)
    kg = q_transcripts_turn_triples(spark, sf_dir).withColumn(
        "__b", F.pmod(F.xxhash64("subj", "pred", "obj"), F.lit(3)))
    state = tempfile.mkdtemp(prefix="kgloom_vstate_")
    for i in range(3):
        validate_batch(spark, state, kg.where(F.col("__b") == i).drop("__b"),
                       i, shapes)
    return read_report(spark, state, shapes)


def q_kg_entity_summary(spark, sf_dir):
    """Top-2 facts per turn entity ranked by predicate informativeness
    (kgloom/ops/summarize.py): global predicate rarity as the salience
    score, so a tool turn's summary leads with its kg:usedTool fact
    (the rarest predicate) while every turn keeps kg:partOf over the
    ubiquitous kg:text/kg:role ties — the entity-card / context-
    packing stage of KG-grounded generation.  Predicate histogram
    broadcast, one subject-partitioned window, no Python."""
    from kgloom.ops.summarize import entity_summary
    return entity_summary(q_transcripts_turn_triples(spark, sf_dir), k=2)


def q_kg_bucketed_star(spark, sf_dir):
    """Star-shaped BGP self-join over a SUBJECT-BUCKETED quad store
    (kgloom/ops/store.py:write_bucketed_store): the turn KG written
    bucketBy(32, subj)+sortBy, then ``?s kg:usedTool ?t . ?s kg:role
    ?r`` joined subj=subj — both slices read co-located bucket files,
    so the join plans with ZERO Exchange and zero Sort (plan-gated in
    tests/test_store.py).  At 100 TB this is entity assembly without
    shuffling the store."""
    import tempfile
    from kgloom.ops.store import read_bucketed_store, write_bucketed_store
    triples = q_transcripts_turn_triples(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="kgloom_bstore_") + "/quads"
    write_bucketed_store(triples, "kgloom_bucketed_star", path,
                         n_buckets=32)
    t = read_bucketed_store(spark, "kgloom_bucketed_star")
    a = (t.where(F.col("pred") == f"<{_KGO}usedTool>")
         .select("subj", F.col("obj").alias("tool")))
    b = (t.where(F.col("pred") == f"<{_KGO}role>")
         .select("subj", F.col("obj").alias("role")))
    return a.join(b, "subj")


def q_transcripts_asof_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time AS-OF join (round-4, kgloom/ops/temporal.py): every
    non-tool turn attached to the most recent tool turn at-or-before
    it in the same conversation.  Union + window carry-forward — one
    shuffle on conv_id, no range-join explosion; the DuckDB oracle is
    the engine's NATIVE ``ASOF LEFT JOIN``, an independent
    implementation of the same semantics."""
    from kgloom.ops.temporal import asof_join
    tr = transcripts_from_events(spark, sf_dir)
    left = tr.where(F.col("role") != "tool") \
             .select("conv_id", "turn_idx", "ts")
    right = tr.where(F.col("role") == "tool").select(
        "conv_id", F.col("turn_idx").alias("tool_idx"),
        F.col("tool").alias("tool_name"), F.col("ts").alias("tool_ts"))
    return asof_join(left, right, on=["conv_id"], left_ts="ts",
                     right_ts="tool_ts",
                     right_payload=["tool_idx", "tool_name"], suffix="")


def q_kg_tool_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-KG validity intervals (round-4,
    kgloom/ops/temporal.py): each conversation's tool-usage timeline
    coalesced into maximal constant-tool closed-open periods
    (SQL:2011-style).  Gaps-and-islands: lag change flag + running-sum
    island id + one aggregate, all over the same conv_id
    partitioning."""
    from kgloom.ops.temporal import interval_coalesce
    tr = transcripts_from_events(spark, sf_dir)
    tools = tr.where(F.col("role") == "tool") \
              .select("conv_id", "tool", "ts", "turn_idx")
    return interval_coalesce(tools, keys=["conv_id"], value="tool",
                             ts="ts", order_extra=["turn_idx"])


def q_kg_graph_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (round-4, kgloom/ops/temporal.py): the triple
    sets materialized from two overlapping turn windows (turn_idx<10
    vs turn_idx>=5) diffed into added/removed rows — the lineage
    primitive for the checkpointed pipeline.  Tag + union + one
    map-side-combinable sum aggregate: a single shuffle, not two
    anti-joins."""
    from kgloom.transcripts.pipeline import turn_triples_plan
    from kgloom.ops.temporal import snapshot_delta
    turns = transcripts_from_events(spark, sf_dir)

    def _triples(t: DataFrame) -> DataFrame:
        binder = SparkBinder(spark, dataframes={"transcripts": t})
        out = list(write_sinks(binder.execute(
            turn_triples_plan().graph)).values())[0]
        return out.select("subj", "pred", "obj")

    old = _triples(turns.where(F.col("turn_idx") < 10))
    new = _triples(turns.where(F.col("turn_idx") >= 5))
    return snapshot_delta(old, new)


def q_text_fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle transform (round-4, kgloom/ops/packing.py):
    deterministic md5-seeded PSM reordering of every document — the
    FIM pretraining objective's data prep.  Map-only pure Catalyst (no
    shuffle: pipelines with the parquet scan at any scale); cut points
    replayable in any engine with md5."""
    from kgloom.ops.packing import fim_transform
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return fim_transform(docs, "doc_id", "text")


def q_sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (round-4, kgloom/ops/sketch.py):
    per-predicate estimated distinct-object counts over the turn
    triples.  md5-derived hash fractions make the ESTIMATE itself a
    pure function of the value set, so the DuckDB oracle reproduces it
    bit-for-bit — a sketch you can regression-test.  Low-cardinality
    predicates (role) take the exact branch, high-cardinality ones
    (text, partOf) the (k-1)/f_k estimator branch."""
    from kgloom.ops.sketch import kmv_distinct
    from kgloom.transcripts.pipeline import turn_triples_plan
    turns = transcripts_from_events(spark, sf_dir)
    binder = SparkBinder(spark, dataframes={"transcripts": turns})
    triples = list(write_sinks(binder.execute(
        turn_triples_plan().graph)).values())[0].select("pred", "obj")
    return kmv_distinct(triples, keys=["pred"], value="obj", k=64)


def q_sketch_kmv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming KMV distinct monitor's fold
    (kgloom/streaming/distinct.py fold_minima: min_k =
    TopK(distinct(min_{k-1} ∪ Minima(batch_k)))), driven over three
    deterministic hash-buckets of the turn triples.  Because the k
    smallest of a union are among the union of each side's k
    smallest, the folded synopsis — and so the estimate — is
    BIT-IDENTICAL to one-shot kmv_distinct: same oracle SQL as
    sketch_kmv_distinct, exercised through the incremental path."""
    from kgloom.ops.sketch import kmv_estimate
    from kgloom.streaming.distinct import fold_minima
    from kgloom.transcripts.pipeline import turn_triples_plan
    turns = transcripts_from_events(spark, sf_dir)
    binder = SparkBinder(spark, dataframes={"transcripts": turns})
    triples = (list(write_sinks(binder.execute(
        turn_triples_plan().graph)).values())[0]
        .select("pred", "obj")
        .withColumn("__b", F.pmod(F.xxhash64("pred", "obj"), F.lit(3))))
    minima = None
    for i in range(3):
        batch = triples.where(F.col("__b") == i).drop("__b")
        minima = fold_minima(minima, batch, ["pred"], "obj",
                             k=64).localCheckpoint()
    return kmv_estimate(minima, ["pred"], k=64)


def q_sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed EXACT heavy hitters (kgloom/ops/sketch.py
    heavy_hitters): per-predicate objects with count > N_pred/(m+1)
    over the distinct turn triples, m=64.  Pass 1 is bounded-state
    Misra-Gries per partition (candidate superset, ≤ m·partitions rows
    per group reach the join); pass 2 exactly counts candidates only —
    so the answer is independent of the partition layout and
    hash-matches the plain HAVING-threshold SQL oracle.  Low-cardinality
    predicates (role, usedTool) surface their values; near-unique ones
    (text) correctly surface nothing."""
    from kgloom.ops.sketch import heavy_hitters
    from kgloom.transcripts.pipeline import turn_triples_plan
    turns = transcripts_from_events(spark, sf_dir)
    binder = SparkBinder(spark, dataframes={"transcripts": turns})
    triples = list(write_sinks(binder.execute(
        turn_triples_plan().graph)).values())[0].distinct()
    return heavy_hitters(triples.select("pred", "obj"),
                         keys=["pred"], value="obj", m=64)


def q_sketch_mg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming heavy-hitter monitor's Misra-Gries fold
    (kgloom/streaming/heavyhitters.py fold_summary: summ_k =
    Compress_m(summ_{k-1} ⊎ Counts(batch_k))), driven over three
    deterministic hash-buckets of the turn triples, then made EXACT by
    the prune-then-verify pass: the folded summary is a proven
    candidate superset (mergeable-summaries guarantee), so exact
    counts of candidates + the HAVING threshold reproduce the plain
    SQL answer — same oracle as sketch_heavy_hitters, exercised
    through the incremental path."""
    from kgloom.streaming.heavyhitters import fold_summary
    from kgloom.transcripts.pipeline import turn_triples_plan
    turns = transcripts_from_events(spark, sf_dir)
    binder = SparkBinder(spark, dataframes={"transcripts": turns})
    triples = (list(write_sinks(binder.execute(
        turn_triples_plan().graph)).values())[0]
        .distinct().select("pred", "obj")
        .withColumn("__b", F.pmod(F.xxhash64("pred", "obj"), F.lit(3))))
    m = 64
    summ = None
    for i in range(3):
        batch = triples.where(F.col("__b") == i).drop("__b")
        summ = fold_summary(summ, batch, ["pred"], "obj",
                            m=m).localCheckpoint()
    data = triples.drop("__b")
    totals = data.groupBy("pred").agg(F.count(F.lit(1)).alias("n_group"))
    cand = summ.select("pred", "obj")
    counted = (data.join(F.broadcast(cand), on=["pred", "obj"],
                         how="leftsemi")
               .groupBy("pred", "obj")
               .agg(F.count(F.lit(1)).alias("cnt")))
    return (counted.join(totals, on=["pred"])
            .where(F.col("cnt") * (m + 1) > F.col("n_group"))
            .select("pred", "obj", "cnt", "n_group"))


def q_sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV multiset-operation estimates (kgloom/ops/sketch.py
    kmv_set_estimates; Beyer et al. 2007): union / intersection /
    Jaccard cardinality of the entity sets mentioned in user vs
    assistant turns, from two 64-row synopses — the join-size-advisor
    primitive (broadcast-vs-shuffle decisions from sketches alone,
    never rescanning either side).  md5-deterministic, so the DuckDB
    oracle replays every estimate bit-for-bit."""
    from kgloom.ops.sketch import kmv_set_estimates
    turns = transcripts_from_events(spark, sf_dir)
    ents = (turns.where(F.col("text").rlike("Entity_[0-9]+"))
            .select("role", F.regexp_extract("text", "Entity_[0-9]+", 0)
                    .alias("ent")))
    a = ents.where(F.col("role") == "user").select("ent")
    b = ents.where(F.col("role") == "assistant").select("ent")
    return kmv_set_estimates(a, b, [], "ent", k=64)


def q_sketch_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equal-frequency-centroid quantile sketch (round-5,
    kgloom/ops/sketch.py kll_quantiles): per-language p10/p50/p90/p99
    of document length read off a k=32 merged centroid summary built
    from 4 content-salted local sketches.  Like the KMV sketch, every
    step (md5 salt, ntile compaction, cumulative-weight merge,
    ceil-rank extraction) is a pure function of the value multiset, so
    the DuckDB oracle reproduces the ESTIMATE bit-for-bit — a quantile
    sketch you can regression-test.  The exact-quantile twin
    (stats_doc_quantiles) bounds how far the sketch strays."""
    from kgloom.ops.sketch import kll_quantiles
    docs = _docs(spark, sf_dir)
    return kll_quantiles(docs, ["lang"], "n_chars",
                         [0.1, 0.5, 0.9, 0.99], k=32, n_salts=4)


def q_stats_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profiling of the documents table
    (kgloom/ops/sketch.py table_profile): exact row/null counts, KMV
    distinct estimates, and the MG-verified dominant value per column
    — one melted long-form pass, each statistic a deterministic
    sketch, every cell replayed by the DuckDB twin.  Near-unique
    columns (doc_id, text) honestly report a null top value (nothing
    exceeds N/65); categorical columns (lang, source) report their
    winner with its exact count."""
    from kgloom.ops.sketch import table_profile
    return table_profile(
        _docs(spark, sf_dir),
        ["doc_id", "text", "lang", "source", "n_chars"], k=64, m=64)


def q_stats_profile_incremental(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """The streaming catalog-statistics monitor's folds
    (kgloom/streaming/profile.py) driven over three deterministic
    hash-buckets of the documents table: exact counter addition +
    the KMV minima fold per column.  Counter addition is associative
    and the KMV fold is bit-identical to batch, so the incremental
    result equals the batch profile's count/distinct columns exactly
    — the oracle is the table-profile SQL minus the top-value pass
    (which streaming replaces with MG bounds, tested separately)."""
    from kgloom.ops.sketch import kmv_estimate
    from kgloom.streaming.distinct import fold_minima
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    docs = (_docs(spark, sf_dir)
            .withColumn("__b", F.pmod(F.xxhash64("doc_id"), F.lit(3))))
    pairs = F.explode(F.array(*[
        F.struct(F.lit(c).alias("c"), F.col(c).cast("string").alias("v"))
        for c in cols])).alias("p")
    minima, counts = None, None
    for i in range(3):
        melted = (docs.where(F.col("__b") == i)
                  .select(pairs).select("p.c", "p.v"))
        cnt = melted.groupBy("c").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
             .alias("n_nulls"))
        if counts is not None:
            cnt = (cnt.unionByName(counts).groupBy("c")
                   .agg(F.sum("n_rows").alias("n_rows"),
                        F.sum("n_nulls").alias("n_nulls")))
        counts = cnt.localCheckpoint()
        minima = fold_minima(minima,
                             melted.where(F.col("v").isNotNull()),
                             ["c"], "v", k=64).localCheckpoint()
    dist = (kmv_estimate(minima, ["c"], k=64)
            .select("c", F.col("estimate").alias("distinct_est")))
    return (counts.join(dist, "c", "left")
            .select(F.col("c").alias("column"), "n_rows", "n_nulls",
                    "distinct_est"))


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel completion over the events table
    (kgloom/ops/temporal.py funnel): per user the earliest
    view → click → signup → purchase chain in event time —
    greedy-earliest semantics, k-1 user-keyed equi-joins +
    min-aggregates (one shuffle partitioning reused, one row per user
    per stage).  The DuckDB twin replays the chain with correlated
    MIN CTEs."""
    from kgloom.ops.temporal import funnel
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel(events, ["view", "click", "signup", "purchase"])


def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey Markov transition graph
    (kgloom/ops/temporal.py transition_graph): event-type bigram
    counts + row-normalized probabilities over each user's
    time-ordered stream — one deterministic window + one aggregate;
    prob is one division of exact counts, bit-replayable."""
    from kgloom.ops.temporal import transition_graph
    return transition_graph(
        spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (kgloom/ops/temporal.py
    cohort_retention): distinct users per (first-event ISO week,
    week offset) cell — two keyed aggregates, integer week
    arithmetic, exact cross-engine."""
    from kgloom.ops.temporal import cohort_retention
    return cohort_retention(
        spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_events_json_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON schema induction over the events table's props blob
    (kgloom/ops/shred.py induce_json_schema): per-path type census on
    Spark 4 VariantType — true JSON types, so a quoted "69" stays a
    string — normalized to the json vocabulary DuckDB's json_type
    yields, which makes the census itself the oracle.  The props
    column is unioned with a string-built {et, val} object so the
    census exercises string and number paths alongside the integer
    one."""
    from kgloom.ops.shred import induce_json_schema
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    built = events.select(F.concat(
        F.lit('{"et": "'), F.col("event_type"),
        F.lit('", "val": '), F.col("value").cast("string"),
        F.lit("}")).alias("j"))
    blobs = events.select(F.col("props").alias("j")).unionByName(built)
    return induce_json_schema(blobs, "j")


def q_stats_doc_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed quantiles (round-4): per-language p25/p50/p75
    of document length via Spark's exact ``percentile`` aggregate
    (linear interpolation at rank q·(N-1) — the same definition as
    DuckDB's ``quantile_cont``, and the dyadic 1/4 fractions keep the
    interpolation arithmetic bit-exact across engines).  One hash
    aggregate; the exact percentile buffers per group are bounded by
    per-language doc counts."""
    docs = _docs(spark, sf_dir)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("percentile(n_chars, 0.25)").alias("p25"),
        F.expr("percentile(n_chars, 0.5)").alias("p50"),
        F.expr("percentile(n_chars, 0.75)").alias("p75"))


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: referencing-object-map join pipeline at sf0.001."""
    return q_kg_join_refobject(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every module-level ``q_<name>`` function, keyed by ``<name>``."""
    return {name[2:]: fn for name, fn in globals().items()
            if name.startswith("q_") and callable(fn)}


# ---------------------------------------------------------------------------
# Oracle CTE text for the derived graphs.  Each replays in SQL an input the
# Spark queries build with their own helpers (_entity_incidence /
# _comention_edges, _kg_edges, _turn_succession); the two sides share no
# code, so every oracle stays an independent replay.
# ---------------------------------------------------------------------------

#: entity mentions as CTEs over TRANSCRIPTS_SQL: `tr`; `m` (conv_id,
#: turn_idx, surface, norm_key), one mention per turn; `canon` (norm_key →
#: canonical) — every surface variant on this corpus scores above the 0.5
#: ER link threshold, so canonical_map's components are exactly the
#: norm_key groups and the canonical is the group's min surface (the
#: driver union-find and the distributed CC share the min-label rule);
#: `ents` (distinct conv_id, ent); `ce`, the co-mention edges (u < v)
_MENTION_CTES = f"""tr AS ({TRANSCRIPTS_SQL}),
m AS (
  SELECT conv_id, turn_idx, 'Entity_' || CAST(CAST(k AS BIGINT) AS VARCHAR)
           AS surface, k AS norm_key
  FROM (SELECT *, regexp_extract(text, 'Entity_([0-9]+)', 1) AS k FROM tr)),
canon AS (
  SELECT norm_key, MIN(surface) AS canonical
  FROM (SELECT DISTINCT surface, norm_key FROM m)
  GROUP BY norm_key),
ents AS (
  SELECT DISTINCT m.conv_id, c.canonical AS ent
  FROM m JOIN canon c USING (norm_key)),
ce AS (
  SELECT DISTINCT a.ent AS u, b.ent AS v
  FROM ents a JOIN ents b ON a.conv_id = b.conv_id AND a.ent < b.ent)"""


def _kg_edges_sql(a: str, b: str) -> str:
    """The turn KG's IRI→IRI edges (turn→conv, turn→tool), distinct, as
    columns ``a``, ``b`` — a self-contained query over TRANSCRIPTS_SQL."""
    turn = ("'<http://kg.example/conv/' || conv_id || '/turn/'"
            " || CAST(turn_idx AS VARCHAR) || '>'")
    return f"""
        WITH tr AS ({TRANSCRIPTS_SQL})
        SELECT DISTINCT {turn} AS {a},
               '<http://kg.example/conv/' || conv_id || '>' AS {b}
        FROM tr
        UNION
        SELECT DISTINCT {turn}, '<http://kg.example/tool/' || tool || '>'
        FROM tr WHERE tool IS NOT NULL"""


#: the symmetrized, loop-free edge set of an `ec` (u, v) CTE
_SYMMETRIC_EC = """SELECT DISTINCT u, v FROM (
    SELECT u, v FROM ec UNION ALL SELECT v, u FROM ec)
  WHERE u != v"""

#: the turn-succession DAG as CTEs over TRANSCRIPTS_SQL: `tr`; `iri` (each
#: turn with its IRI `t`); `e0` (src, dst): each turn to its
#: conversation's next turn (dst NULL after the last) and each tool turn
#: to its tool IRI
_TURN_DAG_CTES = f"""tr AS ({TRANSCRIPTS_SQL}),
iri AS (SELECT conv_id, turn_idx, tool,
               '<http://kg.example/conv/' || conv_id || '/turn/'
                 || CAST(turn_idx AS VARCHAR) || '>' AS t
        FROM tr),
e0 AS (SELECT t AS src,
              LEAD(t) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS dst
       FROM iri
       UNION ALL
       SELECT t, '<http://kg.example/tool/' || tool || '>'
       FROM iri WHERE tool IS NOT NULL)"""


def _turn_ball_ctes(radius: int) -> str:
    """_TURN_DAG_CTES plus `e` (its distinct non-null, loop-free edges),
    `n` (its nodes) and the recursive `ball(root, node, hop)`: every
    node within ``radius`` hops of each root (for WITH RECURSIVE)."""
    return _TURN_DAG_CTES + f""",
e AS (SELECT DISTINCT src, dst FROM e0
      WHERE dst IS NOT NULL AND src <> dst),
n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
ball(root, node, hop) AS (
    SELECT node, node, 0 FROM n
    UNION ALL
    SELECT ball.root, e.dst, hop + 1
    FROM ball JOIN e ON e.src = ball.node
    WHERE hop < {radius})"""


def _ball_estimate_ctes(radius: int) -> str:
    """_turn_ball_ctes(radius) plus `est(root, r, est)`, the KMV (k=8)
    size estimate of each root's r-ball for r = 0..radius, from the same
    md5 fractions as the engine (for WITH RECURSIVE)."""
    return _turn_ball_ctes(radius) + f""",
bm AS (SELECT root, node, MIN(hop) AS hop FROM ball GROUP BY 1, 2),
rad AS (SELECT unnest(generate_series(0, {radius})) AS r),
h AS (SELECT bm.root, rad.r,
             CAST('0x' || substr(md5(bm.node), 1, 15) AS BIGINT)
               / 1152921504606846976.0 AS f
      FROM bm JOIN rad ON bm.hop <= rad.r),
rr AS (SELECT root, r, f,
              ROW_NUMBER() OVER (PARTITION BY root, r ORDER BY f) AS rn
       FROM h),
m AS (SELECT root, r, CAST(COUNT(*) AS BIGINT) AS n_minima, MAX(f) AS f_k
      FROM rr WHERE rn <= 8 GROUP BY 1, 2),
est AS (SELECT root, r,
               CASE WHEN n_minima < 8 THEN CAST(n_minima AS DOUBLE)
                    ELSE 7.0 / f_k END AS est
        FROM m)"""


_RANDOM_WALKS_SQL = f"""
            WITH ec AS MATERIALIZED ({_kg_edges_sql("u", "v")}),
            e AS MATERIALIZED ({_SYMMETRIC_EC}),
            nbr AS MATERIALIZED (
              SELECT u AS ns, v AS nd,
                     ROW_NUMBER() OVER (PARTITION BY u ORDER BY v) - 1
                       AS rank,
                     COUNT(*) OVER (PARTITION BY u) AS deg
              FROM e),
            nodes AS (
              SELECT DISTINCT u AS node FROM (
                SELECT u FROM e UNION ALL SELECT v FROM e)),
            s0 AS MATERIALIZED (
              SELECT node AS start, w AS walk_id, 0 AS step, node
              FROM nodes CROSS JOIN (SELECT UNNEST(range(0, 2)) AS w)),
            s1 AS MATERIALIZED (
              SELECT s.start, s.walk_id, 1 AS step, n.nd AS node
              FROM s0 s JOIN nbr n ON s.node = n.ns
               AND n.rank = CAST('0x' || substr(md5(s.start || '|'
                 || CAST(s.walk_id AS VARCHAR) || '|0|' || s.node),
                 1, 8) AS BIGINT) % n.deg),
            s2 AS MATERIALIZED (
              SELECT s.start, s.walk_id, 2 AS step, n.nd AS node
              FROM s1 s JOIN nbr n ON s.node = n.ns
               AND n.rank = CAST('0x' || substr(md5(s.start || '|'
                 || CAST(s.walk_id AS VARCHAR) || '|1|' || s.node),
                 1, 8) AS BIGINT) % n.deg),
            s3 AS MATERIALIZED (
              SELECT s.start, s.walk_id, 3 AS step, n.nd AS node
              FROM s2 s JOIN nbr n ON s.node = n.ns
               AND n.rank = CAST('0x' || substr(md5(s.start || '|'
                 || CAST(s.walk_id AS VARCHAR) || '|2|' || s.node),
                 1, 8) AS BIGINT) % n.deg)
            SELECT * FROM s0 UNION ALL SELECT * FROM s1
            UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
        """


def _linkpred_sql(edges_cte: str, cap: int, thresh_hex: str) -> str:
    """Link-prediction replay: canonical edges, md5 hex-rank split at
    ``thresh_hex``, Adamic-Adar over the TRAIN half (same capped-
    center, ordered-fold shape as the graph_adamic_adar oracle), then
    each TEST edge's rank among its source's candidates."""
    return f"""
        WITH ec AS MATERIALIZED ({edges_cte}),
        canon AS MATERIALIZED (
          SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v
          FROM ec WHERE u != v),
        tagged AS MATERIALIZED (
          SELECT u, v,
                 substr(md5(u || '|' || v || '|lp'), 1, 8)
                   < '{thresh_hex}' AS is_test
          FROM canon),
        train AS MATERIALIZED (
          SELECT u, v FROM (
            SELECT u, v FROM tagged WHERE NOT is_test
            UNION ALL
            SELECT v, u FROM tagged WHERE NOT is_test)
          WHERE u != v),
        deg AS (SELECT u AS w, COUNT(*) AS deg_w FROM train GROUP BY u),
        centers AS (SELECT * FROM deg WHERE deg_w <= {cap}),
        adj AS MATERIALIZED (
          SELECT t.u AS w, t.v AS x,
                 CAST(1 AS DOUBLE) / ln(CAST(c.deg_w AS DOUBLE)) AS wt
          FROM train t JOIN centers c ON t.u = c.w),
        wedges AS (
          SELECT a.w, a.x AS u, b.x AS v, a.wt
          FROM adj a JOIN adj b ON a.w = b.w AND a.x < b.x),
        nonedges AS (
          SELECT wd.* FROM wedges wd
          LEFT JOIN train t ON wd.u = t.u AND wd.v = t.v
          WHERE t.u IS NULL),
        aa AS (
          SELECT u, v, list_reduce(list(wt ORDER BY w),
                                   (a, b) -> a + b) AS aa_score
          FROM nonedges GROUP BY u, v),
        ranked AS (
          SELECT u, v,
                 ROW_NUMBER() OVER (PARTITION BY u
                                    ORDER BY aa_score DESC, v) AS rank
          FROM aa)
        SELECT t.u, t.v, CAST(r.rank AS INTEGER) AS rank,
               r.rank IS NOT NULL AS found
        FROM tagged t LEFT JOIN ranked r ON t.u = r.u AND t.v = r.v
        WHERE t.is_test
    """


def _node2vec_sql(edges_cte: str, walk_len: int = 3) -> str:
    """Unrolled node2vec biased-walk replay (p=4, q=0.25, n_walks=1) —
    the relational twin of kgloom.ops.graph.biased_walks.  Weights are
    exact binary fractions, so the cumulative-sum pick compares
    identically no matter how either engine associates the additions;
    every float literal is cast to DOUBLE (DuckDB decimals otherwise)."""
    ctes = [f"""ec AS MATERIALIZED ({edges_cte}),
e AS MATERIALIZED ({_SYMMETRIC_EC}),
nbr AS MATERIALIZED (
  SELECT u AS ns, v AS nd,
         ROW_NUMBER() OVER (PARTITION BY u ORDER BY v) AS rank
  FROM e),
deg AS (SELECT u AS dn, COUNT(*) AS deg FROM e GROUP BY u),
nodes AS (SELECT DISTINCT u AS node FROM (
            SELECT u FROM e UNION ALL SELECT v FROM e)),
s0 AS (SELECT node AS start, 0 AS walk_id, 0 AS step,
              CAST(NULL AS VARCHAR) AS prev, node FROM nodes),
s1 AS MATERIALIZED (
  SELECT s.start, s.walk_id, 1 AS step, s.node AS prev, n.nd AS node
  FROM s0 s
  JOIN deg d ON s.node = d.dn
  JOIN nbr n ON s.node = n.ns
   AND n.rank - 1 = CAST('0x' || substr(md5(s.start || '|0|0|'
     || s.node), 1, 8) AS BIGINT) % d.deg)"""]
    for i in range(1, walk_len):
        ctes.append(f"""c{i + 1} AS (
  SELECT s.start, s.walk_id, s.prev, s.node, n.nd AS x, n.rank,
         CASE WHEN n.nd = s.prev THEN CAST(0.25 AS DOUBLE)
              WHEN EXISTS (SELECT 1 FROM e
                           WHERE e.u = s.prev AND e.v = n.nd)
                THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(4.0 AS DOUBLE) END AS alpha
  FROM s{i} s JOIN nbr n ON s.node = n.ns),
w{i + 1} AS (
  SELECT *,
         SUM(alpha) OVER (PARTITION BY start, walk_id ORDER BY rank
                          ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(alpha) OVER (PARTITION BY start, walk_id) AS total,
         CAST(CAST('0x' || substr(md5(start || '|'
           || CAST(walk_id AS VARCHAR) || '|{i}|' || prev || '|'
           || node), 1, 8) AS BIGINT) AS DOUBLE)
           / CAST(4294967296.0 AS DOUBLE) AS u01
  FROM c{i + 1}),
s{i + 1} AS MATERIALIZED (
  SELECT start, walk_id, {i + 1} AS step, node AS prev, x AS node
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY start, walk_id
                                     ORDER BY rank) AS pick
        FROM w{i + 1} WHERE cum > u01 * total)
  WHERE pick = 1)""")
    finals = " UNION ALL ".join(
        f"SELECT start, walk_id, step, node FROM s{j}"
        for j in range(walk_len + 1))
    return "WITH " + ",\n".join(ctes) + "\n" + finals


def _kcore_sql(edges_cte: str, k: int, rounds: int) -> str:
    """Unrolled k-core peeling as chained CTEs (DuckDB has no loop
    construct) — the relational replay of kgloom.ops.graph.k_core.
    ``rounds`` must be >= the graph's peeling depth; extra rounds are
    no-ops because the peel is idempotent at the fixpoint (the engine
    runs to the fixpoint, the oracle just overshoots it)."""
    # AS MATERIALIZED is load-bearing: each round references the
    # previous round 3x, so inlined CTEs would expand 3^rounds scans
    ctes = [f"""ec AS MATERIALIZED ({edges_cte}),
e0 AS MATERIALIZED ({_SYMMETRIC_EC})"""]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(f"""e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{p} e
  JOIN (SELECT u FROM e{p} GROUP BY u HAVING COUNT(*) >= {k}) ku
    ON e.u = ku.u
  JOIN (SELECT u FROM e{p} GROUP BY u HAVING COUNT(*) >= {k}) kv
    ON e.v = kv.u)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT u AS node, COUNT(*) AS degree"
              f" FROM e{rounds} GROUP BY u")


def _bpe_sql(n_merges: int = 5) -> str:
    """The learn_bpe_merges DuckDB twin: each merge round is one
    pair-count CTE + a 1-row argmax CTE + a replace CTE, chained —
    integer counts, binary-string tie-breaks, and the same
    unit-separator replace trick, so the rounds are exact by
    construction."""
    rows = "\nUNION ALL ".join(
        f"""SELECT CAST({i} AS INTEGER) AS rank, l AS "left",
               r AS "right", CAST(c AS BIGINT) AS pair_count
        FROM b{i}""" for i in range(1, n_merges + 1))
    return "WITH " + _bpe_ctes(n_merges) + "\n" + rows


def _apply_bpe_sql(n_merges: int = 5) -> str:
    """The apply_bpe DuckDB twin: learn the merges via the same CTE
    chain, then apply them as nested literal replaces over the
    unit-separated document body and count separators."""
    sep = "\x1f"
    pats = ", ".join(
        f"(SELECT l FROM b{i}) || '{sep}' || (SELECT r FROM b{i})"
        f" || '{sep}' AS s{i}, (SELECT l FROM b{i})"
        f" || (SELECT r FROM b{i}) || '{sep}' AS t{i}"
        for i in range(1, n_merges + 1))
    applied = "b"
    for i in range(1, n_merges + 1):
        applied = f"replace({applied}, s{i}, t{i})"
    return ("WITH " + _bpe_ctes(n_merges) + f""",
pats AS MATERIALIZED (SELECT {pats}),
docbody AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_words,
         array_to_string(list_transform(ws,
           w -> regexp_replace(w, '(.)', '\\1{sep}', 'g')), ' ') AS b
  FROM (SELECT doc_id,
               list_filter(string_split(lower(text), ' '),
                           w -> length(w) >= 1
                                AND strpos(w, '{sep}') = 0) AS ws
        FROM documents)),
applied AS (SELECT doc_id, n_words, {applied} AS b2
            FROM docbody, pats)
SELECT doc_id, n_words,
       CAST(length(b2) - length(replace(b2, '{sep}', ''))
            AS BIGINT) AS n_subwords
FROM applied""")


def _bpe_ctes(n_merges: int) -> str:
    sep = "\x1f"
    ctes = [f"""w0 AS MATERIALIZED (
  SELECT regexp_replace(w, '(.)', '\\1{sep}', 'g') AS ts, freq FROM (
    SELECT w, COUNT(*) AS freq
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
          FROM documents)
    WHERE length(w) >= 1 AND strpos(w, '{sep}') = 0
    GROUP BY w))"""]
    for i in range(1, n_merges + 1):
        p = i - 1
        ctes.append(f"""p{i} AS MATERIALIZED (
  SELECT l, r, SUM(freq) AS c FROM (
    SELECT unnest(t[1:len(t)-1]) AS l, unnest(t[2:len(t)]) AS r, freq
    FROM (SELECT list_filter(string_split(ts, '{sep}'),
                             x -> x != '') AS t, freq
          FROM w{p}))
  GROUP BY l, r),
b{i} AS MATERIALIZED (SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1),
w{i} AS MATERIALIZED (
  SELECT replace(ts,
                 (SELECT l FROM b{i}) || '{sep}'
                   || (SELECT r FROM b{i}) || '{sep}',
                 (SELECT l FROM b{i}) || (SELECT r FROM b{i})
                   || '{sep}') AS ts, freq
  FROM w{p})""")
    return ",\n".join(ctes)


def _ppr_sql(edges_cte: str, seeds_cte: str, damping: float = 0.85,
             iterations: int = 3) -> str:
    """Unrolled personalized PageRank (restart-to-seeds) as chained
    CTEs — the relational replay of
    kgloom.ops.graph.personalized_pagerank, dangling-mass teleport to
    the seeds included."""
    one_minus_d = repr(1.0 - damping)
    d = repr(damping)
    ctes = [f"""edges AS ({edges_cte}),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
seeds AS (SELECT DISTINCT node FROM ({seeds_cte})
          WHERE node IN (SELECT node FROM nodes)),
kk AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM seeds),
sv AS (SELECT n.node,
              CASE WHEN s.node IS NOT NULL
                   THEN 1.0 / (SELECT k FROM kk) ELSE 0.0 END AS s
       FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
r0 AS (SELECT node, s AS rank FROM sv)"""]
    for i in range(1, iterations + 1):
        p = i - 1
        # ordered sequential folds mirror the engine's sort-by-source
        # left-to-right accumulation (seed nodes sum hundreds of
        # contributions; plain SUM drifts in the last ulp)
        ctes.append(f"""r{i} AS (
  SELECT sv.node,
         {one_minus_d} * sv.s
         + {d} * (COALESCE(c.contrib, 0.0)
                  + (SELECT list_reduce(
                       list_prepend(0.0, list(r.rank ORDER BY r.node)),
                       (acc, x) -> acc + x) FROM r{p} r
                     LEFT JOIN deg ON r.node = deg.src
                     WHERE deg.src IS NULL) * sv.s) AS rank
  FROM sv
  LEFT JOIN (SELECT e.dst AS node,
                    list_reduce(
                      list_prepend(0.0, list(r.rank / d.od
                                             ORDER BY e.src)),
                      (acc, x) -> acc + x) AS contrib
             FROM r{p} r JOIN edges e ON r.node = e.src
             JOIN deg d ON e.src = d.src
             GROUP BY e.dst) c ON sv.node = c.node)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, rank FROM r{iterations}")


def _rp_sketch_sql(out_dim: int = 16, in_dim: int = 64) -> str:
    """The rp_sketch DuckDB twin: the SAME Python-generated Rademacher
    sign matrix inlined as list literals, quantization replayed as in
    the ann_quantized_topk oracle, each sketch component an exact
    integer dot (|values| ≤ 127·in_dim ≪ 2^53, so the double
    list_dot_product is exact).  The sketch is emitted comma-joined
    (not as a list) so the driver's pandas canon can sort it —
    mirrors the Spark-side array_join in q_ann_rp_sketch."""
    signs = S.rademacher_signs(out_dim, in_dim)
    comps = ", ".join(
        "CAST(CAST(list_dot_product(qv, ["
        + ", ".join(f"{float(s)!r}" for s in signs[j])
        + "]) AS BIGINT) AS VARCHAR)"
        for j in range(out_dim))
    return f"""
            WITH ma AS (
              SELECT 127.0 / MAX(list_max(list_transform(
                       CAST(embedding AS DOUBLE[]), x -> abs(x)))) AS s
              FROM embeddings),
            q AS (
              SELECT vec_id,
                     list_transform(CAST(embedding AS DOUBLE[]),
                                    x -> round(x * s)) AS qv
              FROM embeddings, ma)
            SELECT vec_id,
                   concat_ws(',', {comps}) AS sketch
            FROM q
        """


def _wl_sql(rounds: int = 2) -> str:
    """The WL-refinement DuckDB twin (kg_wl_signatures): the
    documented recurrence unrolled as CTE rounds — same message
    strings, same binary string sort (string_agg ORDER BY vs Spark
    sort_array: both compare UTF-8 bytes), same md5."""
    ctes = [f"""tr AS ({TRANSCRIPTS_SQL}),
t AS (SELECT DISTINCT * FROM ({_TURN_TRIPLES_UNION})
      WHERE pred != '<{_KGO}text>'),
nodes AS (SELECT subj AS node FROM t UNION SELECT obj FROM t),
c0 AS (SELECT node,
              CASE WHEN starts_with(node, '<') OR starts_with(node, '_:')
                   THEN 'R' ELSE 'L:' || node END AS color
       FROM nodes)"""]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(f"""m{i} AS (
  SELECT t.subj AS node, 'O|' || t.pred || '|' || c.color AS msg
  FROM t JOIN c{p} c ON t.obj = c.node
  UNION ALL
  SELECT t.obj, 'I|' || t.pred || '|' || c.color
  FROM t JOIN c{p} c ON t.subj = c.node),
a{i} AS (SELECT node, string_agg(msg, ',' ORDER BY msg) AS m
         FROM m{i} GROUP BY node),
c{i} AS (SELECT c.node, md5(c.color || '|' || COALESCE(a.m, '')) AS color
         FROM c{p} c LEFT JOIN a{i} a ON c.node = a.node)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT color AS signature, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       MIN(node) AS example
FROM c{rounds} GROUP BY color""")


def _lpa_sql(edges_cte: str, rounds: int = 3) -> str:
    """Unrolled synchronous label propagation as chained CTEs — the
    relational replay of kgloom.ops.graph.label_propagation (integer
    votes, smallest-label tie-break; exact by construction).
    ``edges_cte`` must yield columns (u, v); symmetrization happens
    here, mirroring the engine."""
    ctes = [f"""e0 AS ({edges_cte}),
bi AS (SELECT u AS a, v AS b FROM e0 WHERE u != v
       UNION SELECT v, u FROM e0 WHERE u != v),
nodes AS (SELECT DISTINCT a AS node FROM bi),
l0 AS (SELECT node, node AS community FROM nodes)"""]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(f"""p{i} AS (
  SELECT node, community FROM (
    SELECT bi.a AS node, l.community, COUNT(*) AS c,
           ROW_NUMBER() OVER (PARTITION BY bi.a
                              ORDER BY COUNT(*) DESC, l.community)
             AS rn
    FROM bi JOIN l{p} l ON bi.b = l.node
    GROUP BY bi.a, l.community)
  WHERE rn = 1),
l{i} AS (
  SELECT n.node, COALESCE(p.community, l.community) AS community
  FROM nodes n
  LEFT JOIN p{i} p ON n.node = p.node
  JOIN l{p} l ON n.node = l.node)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, community FROM l{rounds}")


def _hits_sql(edges_cte: str, iterations: int = 2) -> str:
    """Unrolled unnormalized HITS as chained CTEs — the relational
    replay of kgloom.ops.graph.hits.  All-integer arithmetic (BIGINT
    sums of BIGINT counts), so the replay is exact by construction."""
    ctes = [f"""e AS (SELECT DISTINCT s, d FROM ({edges_cte})),
nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e),
h0 AS (SELECT node, CAST(1 AS BIGINT) AS hub FROM nodes)"""]
    for i in range(1, iterations + 1):
        p = i - 1
        ctes.append(f"""a{i} AS (
  SELECT n.node, CAST(COALESCE(x.v, 0) AS BIGINT) AS auth
  FROM nodes n LEFT JOIN (
    SELECT e.d AS node, SUM(h.hub) AS v
    FROM e JOIN h{p} h ON e.s = h.node GROUP BY e.d) x USING (node))""")
        ctes.append(f"""h{i} AS (
  SELECT n.node, CAST(COALESCE(x.v, 0) AS BIGINT) AS hub
  FROM nodes n LEFT JOIN (
    SELECT e.s AS node, SUM(a.auth) AS v
    FROM e JOIN a{i} a ON e.d = a.node GROUP BY e.s) x USING (node))""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT h.node AS node, h.hub AS hub, a.auth AS auth"
              f"\nFROM h{iterations} h JOIN a{iterations} a USING (node)")


def _pagerank_sql(edges_cte: str, damping: float = 0.85,
                  iterations: int = 3) -> str:
    """Unrolled power-iteration PageRank as chained CTEs (DuckDB has no
    loop construct, so each round is one CTE generated here) — the
    relational replay of kgloom.ops.graph.pagerank, dangling-mass
    redistribution included."""
    # mirror the engine's float exactly: F.lit(1.0 - damping) is the
    # Python double 1.0-0.85, not the decimal literal 0.15
    one_minus_d = repr(1.0 - damping)
    d = repr(damping)
    ctes = [f"""edges AS ({edges_cte}),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""]
    for i in range(1, iterations + 1):
        p = i - 1
        ctes.append(f"""r{i} AS (
  SELECT n.node,
         {one_minus_d} / (SELECT n FROM nn)
         + {d} * (COALESCE(c.contrib, 0.0)
                  + (SELECT COALESCE(SUM(r.rank), 0.0) FROM r{p} r
                     LEFT JOIN deg ON r.node = deg.src
                     WHERE deg.src IS NULL) / (SELECT n FROM nn)) AS rank
  FROM nodes n
  LEFT JOIN (SELECT e.dst AS node, SUM(r.rank / d.od) AS contrib
             FROM r{p} r JOIN edges e ON r.node = e.src
             JOIN deg d ON e.src = d.src
             GROUP BY e.dst) c ON n.node = c.node)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, rank FROM r{iterations}")


_SHINGLES_CTE = """
toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t) - 2),
                  i -> array_to_string(t[i:i+2], ' '))) AS shingle
    FROM toks WHERE len(t) >= 3) u
)
"""


def oracle_sql() -> dict[str, str]:
    ex = EX
    kgo = _KGO
    oracles = {
        "kg_extend_template": f"""
            SELECT DISTINCT * FROM (
              SELECT '<{ex}customer/' || CAST(c_custkey AS VARCHAR) || '>' AS subj,
                     '<{ex}ontology/name>' AS pred,
                     '"' || c_name || '"' AS obj
              FROM customer
              UNION ALL
              SELECT '<{ex}customer/' || CAST(c_custkey AS VARCHAR) || '>',
                     '<{ex}ontology/segment>',
                     '<{ex}segment/' || c_mktsegment || '>'
              FROM customer)
        """,
        "kg_join_refobject": f"""
            SELECT DISTINCT
              '<{ex}order/' || CAST(o_orderkey AS VARCHAR) || '>' AS subj,
              '<{ex}ontology/placedBy>' AS pred,
              '<{ex}customer/' || CAST(c_custkey AS VARCHAR) || '>' AS obj
            FROM orders JOIN customer ON o_custkey = c_custkey
        """,
        "kg_rename_project": f"""
            SELECT DISTINCT * FROM (
              SELECT '<{ex}nation/' || CAST(n_nationkey AS VARCHAR) || '>' AS subj,
                     '<{ex}ontology/inRegion>' AS pred,
                     '<{ex}region/' || CAST(n_regionkey AS VARCHAR) || '>' AS obj
              FROM nation
              UNION ALL
              SELECT '<{ex}nation/' || CAST(n_nationkey AS VARCHAR) || '>',
                     '<{ex}ontology/name>',
                     '"' || n_name || '"'
              FROM nation)
        """,
        "kg_graph_classes": f"""
            SELECT DISTINCT * FROM (
              SELECT '<{ex}region/' || CAST(r_regionkey AS VARCHAR) || '>' AS subj,
                     '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>' AS pred,
                     '<{ex}ontology/Region>' AS obj,
                     '<{ex}graph/regions>' AS graph
              FROM region
              UNION ALL
              SELECT '<{ex}region/' || CAST(r_regionkey AS VARCHAR) || '>',
                     '<{ex}ontology/name>',
                     '"' || r_name || '"@en',
                     '<{ex}graph/regions>'
              FROM region)
        """,
        "kg_theta_join": f"""
            SELECT DISTINCT
              '<{ex}region/' || CAST(a.r_regionkey AS VARCHAR) || '>' AS subj,
              '<{ex}ontology/precedes>' AS pred,
              '<{ex}region/' || CAST(b.r_regionkey AS VARCHAR) || '>' AS obj
            FROM region a JOIN region b ON a.r_regionkey < b.r_regionkey
        """,
        "kg_scalar_functions": f"""
            SELECT DISTINCT * FROM (
              SELECT '<{ex}customer/' || CAST(c_custkey AS VARCHAR) || '>' AS subj,
                     '<{ex}ontology/upperName>' AS pred,
                     '"' || UPPER(c_name) || '"' AS obj
              FROM customer
              UNION ALL
              SELECT '<{ex}customer/' || CAST(c_custkey AS VARCHAR) || '>',
                     '<{ex}ontology/lowerSeg>',
                     '"' || LOWER(c_mktsegment) || '"'
              FROM customer
              UNION ALL
              SELECT '<{ex}customer/' || CAST(c_custkey AS VARCHAR) || '>',
                     '<{ex}ontology/nameSeg>',
                     '"' || c_name || '|' || c_mktsegment || '"'
              FROM customer
              UNION ALL
              SELECT '<{ex}customer/' || CAST(c_custkey AS VARCHAR) || '>',
                     '<{ex}ontology/segClass>',
                     '"' || CASE WHEN c_mktsegment = 'BUILDING'
                                 THEN 'BUILD' ELSE c_mktsegment END || '"'
              FROM customer)
        """,
        "kg_fragment_multi": f"""
            SELECT DISTINCT * FROM (
              SELECT '<{ex}nation/' || CAST(n_nationkey AS VARCHAR) || '>'
                       AS subj,
                     '<{ex}ontology/name>' AS pred,
                     '"' || n_name || '"' AS obj
              FROM nation
              UNION ALL
              SELECT '<{ex}nation/' || CAST(n_nationkey AS VARCHAR) || '>',
                     '<{ex}ontology/inRegion>',
                     '<{ex}region/' || CAST(n_regionkey AS VARCHAR) || '>'
              FROM nation)
        """,
        "transcripts_turn_triples": f"""
            WITH tr AS ({TRANSCRIPTS_SQL})
            SELECT DISTINCT * FROM ({_TURN_TRIPLES_UNION})
        """,
        # skew histogram replay: per-key count -> floor(log10) rollup
        "stats_key_skew": f"""
            WITH tr AS ({TRANSCRIPTS_SQL}),
            c AS (SELECT conv_id, COUNT(*) AS n FROM tr
                  WHERE conv_id IS NOT NULL GROUP BY conv_id)
            SELECT CAST(FLOOR(LOG10(n)) AS INTEGER) AS magnitude,
                   CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(SUM(n) AS BIGINT) AS n_rows,
                   CAST(MAX(n) AS BIGINT) AS max_count,
                   MIN(conv_id) AS example_key
            FROM c GROUP BY 1
        """,
        # sessionization replay: LAG boundary in exact microseconds,
        # running-sum session index, per-session rollup
        # chat-render replay: same template, windowed length sums for
        # the mask offsets, ordered string/list aggregation
        "transcripts_chat_render": f"""
            WITH tr AS ({TRANSCRIPTS_SQL}),
            r AS (
              SELECT conv_id, turn_idx, role, text,
                     '<|' || role || '|>' || text || '<|end|>' AS rt
              FROM tr),
            o AS (
              SELECT conv_id, turn_idx, role, text, rt,
                     COALESCE(SUM(length(rt) + 1) OVER (
                       PARTITION BY conv_id ORDER BY turn_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0)
                     + length('<|' || role || '|>') AS ts
              FROM r)
            SELECT conv_id,
                   string_agg(rt, chr(10) ORDER BY turn_idx)
                     AS rendered,
                   COALESCE(string_agg(CAST(ts AS BIGINT), ','
                                       ORDER BY turn_idx)
                              FILTER (WHERE role = 'assistant'),
                            '') AS mask_starts,
                   COALESCE(string_agg(CAST(ts + length(text) AS BIGINT),
                                       ',' ORDER BY turn_idx)
                              FILTER (WHERE role = 'assistant'),
                            '') AS mask_ends
            FROM o GROUP BY conv_id
        """,
        # interval-join replay: identical event-time predicate
        "transcripts_tool_attr": f"""
            WITH tr AS ({TRANSCRIPTS_SQL}),
            a AS (SELECT conv_id, turn_idx AS assistant_idx,
                         ts AS assistant_ts
                  FROM tr WHERE role = 'assistant'),
            t AS (SELECT conv_id, turn_idx AS tool_idx, tool,
                         ts AS tool_ts
                  FROM tr WHERE role = 'tool')
            SELECT a.conv_id AS conv_id, a.assistant_idx,
                   a.assistant_ts, t.tool_idx, t.tool, t.tool_ts
            FROM a JOIN t ON a.conv_id = t.conv_id
              AND t.tool_ts > a.assistant_ts
              AND t.tool_ts <= a.assistant_ts + INTERVAL 24 HOUR
        """,
        "transcripts_sessions": f"""
            WITH tr AS ({TRANSCRIPTS_SQL}),
            l AS (
              SELECT conv_id, turn_idx, ts, tool,
                     epoch_us(ts - LAG(ts) OVER (
                       PARTITION BY conv_id ORDER BY ts, turn_idx))
                       AS gap_us
              FROM tr),
            s AS (
              SELECT *,
                     SUM(CASE WHEN gap_us IS NULL
                              OR gap_us > CAST(21600 AS BIGINT) * 1000000
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                             ROWS UNBOUNDED PRECEDING) - 1 AS sidx
              FROM l)
            SELECT conv_id,
                   conv_id || '#' || CAST(sidx AS VARCHAR) AS session_id,
                   CAST(COUNT(*) AS BIGINT) AS n_turns,
                   CAST(COUNT(tool) AS BIGINT) AS n_tool_turns,
                   MIN(epoch_us(ts)) AS t_start_us,
                   MAX(epoch_us(ts)) AS t_end_us
            FROM s GROUP BY conv_id, sidx
        """,
        # SFT pair replay: windowed string_agg over the 3-turn frame,
        # assistant turns with non-empty context
        "transcripts_sft_pairs": f"""
            WITH tr AS ({TRANSCRIPTS_SQL}),
            c AS (
              SELECT conv_id, turn_idx, role, text,
                     string_agg(role || ': ' || text, chr(10)) OVER (
                       PARTITION BY conv_id ORDER BY turn_idx
                       ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
                       AS prompt
              FROM tr)
            SELECT conv_id, turn_idx, prompt, text AS response
            FROM c
            WHERE role = 'assistant' AND prompt IS NOT NULL
        """,
        # co-mention triangle replay with the naive lexicographic
        # orientation (u < v names; the engine uses degree-rank
        # orientation — counts are orientation-independent)
        "graph_triangles": f"""
            WITH {_MENTION_CTES},
            e AS (SELECT u, v FROM ce),
            deg AS (
              SELECT node FROM (
                SELECT u AS node FROM e UNION ALL SELECT v FROM e)
              GROUP BY node),
            tri AS (
              SELECT e1.u AS a, e1.v AS b, e2.v AS c
              FROM e e1
              JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
              JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
            cnt AS (
              SELECT node, COUNT(*) AS n
              FROM (SELECT a AS node FROM tri
                    UNION ALL SELECT b FROM tri
                    UNION ALL SELECT c FROM tri)
              GROUP BY node)
            SELECT deg.node AS node,
                   CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_triangles
            FROM deg LEFT JOIN cnt USING (node)
        """,
        # personalized-PageRank replay: symmetrized partOf/usedTool
        # edges, restart mass uniform over the tool IRIs, 3 unrolled
        # restart-damped rounds
        "graph_ppr": _ppr_sql(f"""
            WITH fwd AS ({_kg_edges_sql("src", "dst")})
            SELECT src, dst FROM fwd
            UNION SELECT dst, src FROM fwd""", f"""
            WITH tr AS ({TRANSCRIPTS_SQL})
            SELECT DISTINCT '<http://kg.example/tool/' || tool || '>'
                     AS node
            FROM tr WHERE tool IS NOT NULL""",
            damping=0.85, iterations=3),
        # quantize + Rademacher projection: all-integer, the sign
        # matrix generated once in Python and inlined in both plans
        "ann_rp_sketch": _rp_sketch_sql(out_dim=16, in_dim=64),
        # BFS-levels replay: recursive reachability with MIN(level)
        # over the symmetrized KG edges, seeded at the tool IRIs
        "graph_bfs_levels": f"""
            WITH RECURSIVE fwd AS (
              -- DuckDB 1.0 loses a nested WITH over a UNION directly
              -- under WITH RECURSIVE; the subquery keeps its scope
              SELECT * FROM ({_kg_edges_sql("a", "b")})),
            bi AS (SELECT a, b FROM fwd WHERE a != b
                   UNION SELECT b, a FROM fwd WHERE a != b),
            seeds AS (
              SELECT DISTINCT b AS node FROM fwd
              WHERE b LIKE '<http://kg.example/tool/%'),
            reach(node, lvl) AS (
              SELECT node, 0 FROM seeds
              UNION
              SELECT bi.b, reach.lvl + 1
              FROM reach JOIN bi ON reach.node = bi.a
              WHERE reach.lvl < 8)
            SELECT node, CAST(MIN(lvl) AS INTEGER) AS level
            FROM reach GROUP BY node
        """,
        # HITS replay: same partOf/usedTool KG edges, 2 unrolled
        # rounds of all-integer hub/authority sums (exact by
        # construction — no float normalization anywhere)
        "graph_hits": _hits_sql(_kg_edges_sql("s", "d"), iterations=2),
        # label-propagation replay: same md5-thinned co-mention edges
        # (4.3% keep), 3 unrolled synchronous vote rounds — integer
        # counts + smallest-label tie-break, exact by construction
        "graph_communities": _lpa_sql(f"""
            WITH {_MENTION_CTES}
            SELECT u, v FROM ce
            WHERE substring(md5(u || '|' || v), 1, 2) <= '0a'""",
            rounds=3),
        # connected-components replay: same md5-thinned co-mention
        # edges, then min-reachable-node per node via a recursive
        # reachability CTE (component labels are canonical minima,
        # independent of the engine's propagation order)
        "graph_components": f"""
            WITH RECURSIVE {_MENTION_CTES},
            e AS (
              SELECT u, v FROM ce
              WHERE substring(md5(u || '|' || v), 1, 2) <= '02'),
            bi AS (
              SELECT u AS a, v AS b FROM e
              UNION SELECT v, u FROM e),
            reach(node, r) AS (
              SELECT a, a FROM bi
              UNION
              SELECT reach.node, bi.b
              FROM reach JOIN bi ON reach.r = bi.a)
            SELECT node, MIN(r) AS component
            FROM reach GROUP BY node
        """,
        # k-core replay: same partOf/usedTool KG edges as pagerank,
        # peel unrolled past the graph's peeling depth (idempotent at
        # the fixpoint, so overshooting is safe)
        "graph_kcore": _kcore_sql(_kg_edges_sql("u", "v"), k=2, rounds=12),
        # Adamic-Adar replay: same symmetrized edges, same <=100
        # center cap, wedge self-join, anti-join against edges, and
        # the ordered-fold weight sum (list ORDER BY center +
        # sequential list_reduce) — AS MATERIALIZED so the 3 edge
        # references don't re-expand the transcript scan
        # Jaccard replay: same symmetrized edges + center cap as the
        # AA twin; all-integer wedge counts and degrees, one division
        "graph_jaccard": f"""
            WITH ec AS MATERIALIZED ({_kg_edges_sql("u", "v")}),
            e AS MATERIALIZED ({_SYMMETRIC_EC}),
            deg AS (SELECT u AS w, COUNT(*) AS deg_w FROM e GROUP BY u),
            adj AS MATERIALIZED (
              SELECT e.u AS w, e.v AS x
              FROM e JOIN deg d ON e.u = d.w
              WHERE d.deg_w >= 2 AND d.deg_w <= 100),
            wed AS (
              SELECT a.x AS u, b.x AS v, COUNT(*) AS n_common
              FROM adj a JOIN adj b ON a.w = b.w AND a.x < b.x
              GROUP BY a.x, b.x),
            ne AS (
              SELECT wed.u, wed.v, wed.n_common
              FROM wed LEFT JOIN e ON wed.u = e.u AND wed.v = e.v
              WHERE e.u IS NULL)
            SELECT ne.u AS u, ne.v AS v,
                   CAST(ne.n_common AS BIGINT) AS n_common,
                   CAST(du.deg_w AS BIGINT) AS deg_u,
                   CAST(dv.deg_w AS BIGINT) AS deg_v,
                   CAST(ne.n_common AS DOUBLE)
                     / CAST(du.deg_w + dv.deg_w - ne.n_common
                            AS DOUBLE) AS jaccard
            FROM ne JOIN deg du ON ne.u = du.w
            JOIN deg dv ON ne.v = dv.w
        """,
        "graph_adamic_adar": f"""
            WITH ec AS MATERIALIZED ({_kg_edges_sql("u", "v")}),
            e AS MATERIALIZED ({_SYMMETRIC_EC}),
            deg AS (SELECT u AS w, COUNT(*) AS deg_w FROM e GROUP BY u),
            centers AS (SELECT * FROM deg WHERE deg_w <= 100),
            adj AS MATERIALIZED (
              SELECT e.u AS w, e.v AS x,
                     CAST(1 AS DOUBLE) / ln(CAST(c.deg_w AS DOUBLE))
                       AS wt
              FROM e JOIN centers c ON e.u = c.w),
            wedges AS (
              SELECT a.w, a.x AS u, b.x AS v, a.wt
              FROM adj a JOIN adj b ON a.w = b.w AND a.x < b.x),
            nonedges AS (
              SELECT wd.* FROM wedges wd
              LEFT JOIN e ON wd.u = e.u AND wd.v = e.v
              WHERE e.u IS NULL),
            g AS (
              SELECT u, v, COUNT(*) AS n_common,
                     list(wt ORDER BY w) AS wts
              FROM nonedges GROUP BY u, v)
            SELECT u, v, CAST(n_common AS BIGINT) AS n_common,
                   list_reduce(wts, (a, b) -> a + b) AS aa_score
            FROM g WHERE n_common >= 1
        """,
        # random-walk replay: same symmetrized adjacency, same
        # id-ordered ranks, same md5 slot draw per unrolled step
        "graph_random_walks": _RANDOM_WALKS_SQL,
        # node2vec replay: unrolled biased steps, exact-binary weights
        "graph_node2vec_walks": _node2vec_sql(
            f"WITH {_MENTION_CTES} SELECT u, v FROM ce", walk_len=3),
        # skip-gram replay: the walks CTE + one self-join on the walk
        # identity with the bounded step-offset band
        "graph_skipgram_pairs": f"""
            WITH walks AS MATERIALIZED ({_RANDOM_WALKS_SQL})
            SELECT a.node AS center, b.node AS context,
                   CAST(b.step - a.step AS INTEGER) AS offset
            FROM walks a JOIN walks b
              ON a.start = b.start AND a.walk_id = b.walk_id
             AND a.step != b.step AND abs(b.step - a.step) <= 2
        """,
        # PMI replay: distinct incidence, bag self-join pair counts,
        # item counts, one ln with the engine's exact operand shape
        "graph_pmi": f"""
            WITH {_MENTION_CTES},
            inc AS MATERIALIZED (SELECT conv_id AS bg, ent AS i FROM ents),
            nb AS (SELECT COUNT(DISTINCT bg) AS n_bags FROM inc),
            cnt AS (SELECT i, COUNT(*) AS n_i FROM inc GROUP BY i),
            pairs AS (
              SELECT x.i AS a, y.i AS b, COUNT(*) AS n_ab
              FROM inc x JOIN inc y ON x.bg = y.bg AND x.i < y.i
              GROUP BY 1, 2)
            SELECT p.a, p.b, CAST(n_ab AS BIGINT) AS n_ab,
                   CAST(ca.n_i AS BIGINT) AS n_a,
                   CAST(cb.n_i AS BIGINT) AS n_b,
                   CAST(nb.n_bags AS BIGINT) AS n_bags,
                   ln((CAST(n_ab AS DOUBLE) * nb.n_bags)
                      / (CAST(ca.n_i AS DOUBLE) * cb.n_i)) AS pmi
            FROM pairs p
            JOIN cnt ca ON p.a = ca.i
            JOIN cnt cb ON p.b = cb.i, nb
        """,
        # predicate-profile replay: per-direction degree aggregates,
        # SUM cast to BIGINT (DuckDB SUM(BIGINT) is HUGEINT)
        "kg_predicate_profile": f"""
            WITH tri AS (
              WITH tr AS ({TRANSCRIPTS_SQL})
              SELECT DISTINCT * FROM ({_TURN_TRIPLES_UNION})),
            od AS (SELECT pred, subj, COUNT(*) AS d FROM tri
                   GROUP BY 1, 2),
            idg AS (SELECT pred, obj, COUNT(*) AS d FROM tri
                    GROUP BY 1, 2),
            outs AS (SELECT pred, SUM(d) AS n_triples,
                            COUNT(*) AS n_subj, MAX(d) AS max_out
                     FROM od GROUP BY pred),
            ins AS (SELECT pred, COUNT(*) AS n_obj, MAX(d) AS max_in
                    FROM idg GROUP BY pred)
            SELECT pred, CAST(n_triples AS BIGINT) AS n_triples,
                   CAST(n_subj AS BIGINT) AS n_subj,
                   CAST(n_obj AS BIGINT) AS n_obj,
                   CAST(max_out AS BIGINT) AS max_out,
                   CAST(max_in AS BIGINT) AS max_in,
                   max_out = 1 AS functional,
                   max_in = 1 AS inverse_functional
            FROM outs JOIN ins USING (pred)
        """,
        "transcripts_entity_degree": f"""
            WITH {_MENTION_CTES}
            SELECT c.canonical AS entity,
                   COUNT(*) AS n_mentions,
                   COUNT(DISTINCT m.conv_id) AS n_convs
            FROM m JOIN canon c USING (norm_key)
            GROUP BY c.canonical
        """,
        # the SPARQL BGP over constructed turn triples is equivalent to
        # this relational query over the transcripts (triples are keyed
        # per (conv_id, turn_idx); the two patterns join on ?turn, the
        # constant "assistant" filters the role triple); bindings are
        # plain lexical values, i.e. IRIs without <>
        "sparql_kg_select": f"""
            WITH tr AS ({TRANSCRIPTS_SQL})
            SELECT 'http://kg.example/conv/' || conv_id || '/turn/'
                     || CAST(turn_idx AS VARCHAR) AS turn,
                   'http://kg.example/tool/' || tool AS tool
            FROM tr WHERE tool IS NOT NULL AND role = 'tool'
        """,
        # OPTIONAL = left join: every turn appears once with its role;
        # tool is the IRI's lexical form when the turn used one, NULL
        # otherwise (SPARQL unbound → null binding)
        "sparql_kg_optional": f"""
            WITH tr AS ({TRANSCRIPTS_SQL})
            SELECT 'http://kg.example/conv/' || conv_id || '/turn/'
                     || CAST(turn_idx AS VARCHAR) AS turn,
                   role,
                   CASE WHEN tool IS NOT NULL
                        THEN 'http://kg.example/tool/' || tool END AS tool
            FROM tr
        """,
        # UNION = concatenation of the branch solution sequences: one
        # row per usedTool triple plus one per role triple
        "sparql_kg_union": f"""
            WITH tr AS ({TRANSCRIPTS_SQL})
            SELECT 'http://kg.example/conv/' || conv_id || '/turn/'
                     || CAST(turn_idx AS VARCHAR) AS turn,
                   'http://kg.example/tool/' || tool AS v
            FROM tr WHERE tool IS NOT NULL
            UNION ALL
            SELECT 'http://kg.example/conv/' || conv_id || '/turn/'
                     || CAST(turn_idx AS VARCHAR), role
            FROM tr
        """,
        # aggregates: each conversation's solution multiset is one row
        # per turn (the OPTIONAL usedTool binds at most once per turn —
        # turn IRIs are unique), so COUNT(?turn) = turns, COUNT(?tool) =
        # turns that used a tool; HAVING keeps multi-turn conversations
        "sparql_kg_agg": f"""
            WITH tr AS ({TRANSCRIPTS_SQL})
            SELECT 'http://kg.example/conv/' || conv_id AS conv,
                   COUNT(*) AS n_turns,
                   COUNT(tool) AS n_tool_turns
            FROM tr GROUP BY conv_id HAVING COUNT(*) > 1
        """,
        # AS-OF: snapshot v1 is exactly the usedTool subgraph, so the
        # point-in-time aggregate = tool-usage counts from the source
        "sparql_kg_asof": f"""
            WITH tr AS ({TRANSCRIPTS_SQL})
            SELECT 'http://kg.example/tool/' || tool AS tool,
                   COUNT(*) AS n_uses
            FROM tr WHERE tool IS NOT NULL GROUP BY tool
        """,
        # CONSTRUCT: template instantiated once per (turn, conv, tool)
        # solution, then set-deduplicated — relationally, the distinct
        # (conv, tool) pairs rendered as triples
        "sparql_kg_construct": f"""
            WITH tr AS ({TRANSCRIPTS_SQL})
            SELECT DISTINCT
                   '<http://kg.example/conv/' || conv_id || '>' AS subj,
                   '<http://kg.example/ontology/toolUsed>' AS pred,
                   '<http://kg.example/tool/' || tool || '>' AS obj
            FROM tr WHERE tool IS NOT NULL
        """,
        # VALUES = inline-relation join (role restriction); BIND =
        # computed column over the solution
        "sparql_kg_bind": f"""
            WITH tr AS ({TRANSCRIPTS_SQL})
            SELECT 'http://kg.example/conv/' || conv_id || '/turn/'
                     || CAST(turn_idx AS VARCHAR) AS turn,
                   UPPER(role) || '@' || 'http://kg.example/conv/'
                     || conv_id || '/turn/'
                     || CAST(turn_idx AS VARCHAR) AS label
            FROM tr WHERE role IN ('user', 'assistant')
        """,
        # named-graph replay: names live only in graph/names, topology
        # only in graph/topology, so the cross-graph join is a plain
        # nation-row projection and ?g always binds graph/topology
        "sparql_kg_graph": f"""
            SELECT DISTINCT n_name AS n,
                   '{ex}region/' || CAST(n_regionkey AS VARCHAR) AS r,
                   '{ex}graph/topology' AS g
            FROM nation
        """,
        # dataset-clause replay: FROM <names> merges into the default
        # graph (default BGP sees names only), FROM NAMED <topology>
        # is the only graph GRAPH ?g may bind — the solution set is
        # the same names x topology join, reached through the
        # dataset-partitioned scopes instead of explicit GRAPH IRIs
        "sparql_kg_dataset": f"""
            SELECT DISTINCT n_name AS n,
                   '{ex}region/' || CAST(n_regionkey AS VARCHAR) AS r,
                   '{ex}graph/topology' AS g
            FROM nation
        """,
        # graph-update replay: MOVE retargets topology->topo2, the
        # WITH-scoped rewrite renames name->label inside graph/names,
        # and the stamp insert adds one provenance quad per non-empty
        # named graph
        "sparql_kg_update_graphs": f"""
            SELECT DISTINCT * FROM (
              SELECT '<{ex}nation/' || CAST(n_nationkey AS VARCHAR)
                       || '>' AS subj,
                     '<{ex}ontology/inRegion>' AS pred,
                     '<{ex}region/' || CAST(n_regionkey AS VARCHAR)
                       || '>' AS obj,
                     '<{ex}graph/topo2>' AS graph
              FROM nation
              UNION ALL
              SELECT '<{ex}nation/' || CAST(n_nationkey AS VARCHAR)
                       || '>',
                     '<{ex}ontology/label>',
                     '"' || n_name || '"',
                     '<{ex}graph/names>'
              FROM nation
              UNION ALL
              SELECT g, '<{ex}ontology/stamp>', '"stamped"', g
              FROM (VALUES ('<{ex}graph/topo2>'),
                           ('<{ex}graph/names>')) t(g))
        """,
        # negation replay: MINUS removes tool-invoking turns (exactly
        # the role='tool' rows, which always carry a tool), NOT EXISTS
        # removes assistant turns — user turns remain
        "sparql_kg_minus_exists": f"""
            WITH tr AS ({TRANSCRIPTS_SQL})
            SELECT 'http://kg.example/conv/' || conv_id || '/turn/'
                     || CAST(turn_idx AS VARCHAR) AS turn,
                   role
            FROM tr WHERE tool IS NULL AND role <> 'assistant'
        """,
        # VALUES-UNDEF replay: the §10.2 compatibility join is a
        # null-or-equal theta join on the shared ?role — an UNDEF
        # (NULL) cell constrains nothing, so the (NULL,'any') row
        # matches every turn and bag semantics duplicate the
        # user/assistant turns with their second mark
        "sparql_kg_values_undef": f"""
            WITH tr AS ({TRANSCRIPTS_SQL}),
            v(vrole, mark) AS (VALUES ('user', 'u'),
                               ('assistant', NULL), (NULL, 'any'))
            SELECT 'http://kg.example/conv/' || conv_id || '/turn/'
                     || CAST(turn_idx AS VARCHAR) AS turn,
                   role, v.mark
            FROM tr JOIN v ON v.vrole IS NULL OR v.vrole = tr.role
        """,
        # FILTER boolean replay: branch one keeps chat turns (no tool
        # triple → unbound ?tool) whose role matches the regex and whose
        # text mentions Entity_7*; branch two keeps tool turns (the tool
        # binding is always an IRI) with turn_idx in the 1/10s
        "sparql_kg_filter": f"""
            WITH tr AS ({TRANSCRIPTS_SQL})
            SELECT 'http://kg.example/conv/' || conv_id || '/turn/'
                     || CAST(turn_idx AS VARCHAR) AS turn,
                   role, text AS txt
            FROM tr
            WHERE (tool IS NULL AND role IN ('user', 'assistant')
                   AND text LIKE '%Entity_7%')
               OR (tool IS NOT NULL AND text LIKE 'turn 1%')
        """,
        # GROUP_CONCAT/SAMPLE replay: the engine defines GROUP_CONCAT
        # as sorted-order concatenation and SAMPLE as the lexical
        # minimum (deterministic refinements), so string_agg with
        # ORDER BY and MIN replay them exactly; solutions are one row
        # per tool turn (role + tool both bind)
        "sparql_kg_group_concat": f"""
            WITH tr AS ({TRANSCRIPTS_SQL})
            SELECT 'http://kg.example/conv/' || conv_id AS conv,
                   string_agg(DISTINCT 'http://kg.example/tool/' || tool,
                              ',' ORDER BY 'http://kg.example/tool/' || tool)
                     AS tools,
                   MIN(role) AS arole,
                   COUNT(*) AS n_tool_turns
            FROM tr WHERE tool IS NOT NULL
            GROUP BY conv_id
        """,
        # negated-property-set replay: !(kg:text|kg:role) keeps exactly
        # the partOf and usedTool edges; bindings are lexical values
        # (turn-triple rows are unique by construction, so UNION ALL
        # preserves the multiset)
        "sparql_kg_nps": f"""
            WITH tr AS ({TRANSCRIPTS_SQL})
            SELECT 'http://kg.example/conv/' || conv_id || '/turn/'
                     || CAST(turn_idx AS VARCHAR) AS s,
                   'http://kg.example/conv/' || conv_id AS o
            FROM tr
            UNION ALL
            SELECT 'http://kg.example/conv/' || conv_id || '/turn/'
                     || CAST(turn_idx AS VARCHAR),
                   'http://kg.example/tool/' || tool
            FROM tr WHERE tool IS NOT NULL
        """,
        # DESCRIBE replay: tool-turn IRIs appear only in the subject
        # position of this KG, so the symmetric description of the
        # role="tool" turns is exactly their four outgoing triples
        "sparql_kg_describe": f"""
            WITH tr AS (SELECT * FROM ({TRANSCRIPTS_SQL})
                        WHERE role = 'tool')
            SELECT DISTINCT * FROM ({_TURN_TRIPLES_UNION})
        """,
        # RDFS ρdf closure replay: see _rdfs_closure_sql
        "reason_rdfs_closure": _rdfs_closure_sql(),
        # OWL-Horst rdfp12/13: equivalence ⇄ mutual subsumption layered
        # on the ρdf replay (see _owl_equiv_sql)
        "reason_owl_equiv": _owl_equiv_sql(),
        # per-predicate profile of the SAME closed KG: one GROUP BY
        # over the closure replay
        "graph_kg_profile": f"""
            SELECT pred,
                   COUNT(*) AS n_triples,
                   COUNT(DISTINCT subj) AS n_subjects,
                   COUNT(DISTINCT obj) AS n_objects,
                   COUNT(*) FILTER (WHERE obj LIKE '<%')
                     AS n_iri_obj,
                   COUNT(*) FILTER (WHERE obj LIKE '"%')
                     AS n_literal_obj,
                   COUNT(*) FILTER (WHERE obj LIKE '\\_:%' ESCAPE '\\')
                     AS n_bnode_obj
            FROM ({_rdfs_closure_sql()})
            GROUP BY pred
        """,
        # OWL-Horst property replay: the follows chain's transitive
        # closure as a recursive CTE, the inverse as its mirror
        # (closure commutes with inversion), the symmetric property as
        # both orientations of its base edges
        "reason_owl_properties": f"""
            WITH RECURSIVE {_MENTION_CTES},
            k(i) AS (SELECT DISTINCT CAST(norm_key AS INT) FROM m),
            e(a, b) AS (SELECT k1.i, k2.i FROM k k1
                        JOIN k k2 ON k2.i = k1.i + 1),
            c(a, b) AS (SELECT a, b FROM e
                        UNION
                        SELECT c.a, e.b FROM c JOIN e ON c.b = e.a)
            SELECT DISTINCT * FROM (
              SELECT '<http://kg.example/ent/Entity_' || CAST(a AS VARCHAR)
                       || '>' AS subj,
                     '<{_KGO}follows>' AS pred,
                     '<http://kg.example/ent/Entity_' || CAST(b AS VARCHAR)
                       || '>' AS obj
              FROM c
              UNION ALL
              SELECT '<http://kg.example/ent/Entity_' || CAST(b AS VARCHAR)
                       || '>',
                     '<{_KGO}precedes>',
                     '<http://kg.example/ent/Entity_' || CAST(a AS VARCHAR)
                       || '>'
              FROM c
              UNION ALL
              SELECT '<http://kg.example/ent/Entity_' || CAST(a AS VARCHAR)
                       || '>',
                     '<{_KGO}adjacentTo>',
                     '<http://kg.example/ent/Entity_' || CAST(b AS VARCHAR)
                       || '>'
              FROM e
              UNION ALL
              SELECT '<http://kg.example/ent/Entity_' || CAST(b AS VARCHAR)
                       || '>',
                     '<{_KGO}adjacentTo>',
                     '<http://kg.example/ent/Entity_' || CAST(a AS VARCHAR)
                       || '>'
              FROM e)
        """,
        # sameAs-fusion replay: each entity's component is the 3-IRI
        # chain ent→alias→legacy, whose lexicographic minimum is the
        # alias IRI (alias < ent < legacy under the shared prefix) —
        # so rewriting subj/obj to the component canonical is a direct
        # string rewrite of the mention and label triples, the sameAs
        # triples vanish, and DISTINCT applies set semantics
        # rdfp2 replay: self-join docs on the 5-token prefix key,
        # pair order by the RENDERED IRI string (engine node order)
        "reason_ifp_sameas": f"""
            WITH k AS (
              SELECT '<{kgo}doc/' || CAST(doc_id AS VARCHAR) || '>'
                       AS node,
                     array_to_string(
                       string_split(lower(text), ' ')[1:5], ' ') AS key
              FROM documents)
            SELECT a.node AS subj,
                   '<http://www.w3.org/2002/07/owl#sameAs>' AS pred,
                   b.node AS obj
            FROM k a JOIN k b ON a.key = b.key AND a.node < b.node
        """,
        "reason_sameas_fusion": f"""
            WITH {_MENTION_CTES}
            SELECT DISTINCT * FROM (
              SELECT '<http://kg.example/conv/' || conv_id || '/turn/'
                       || CAST(turn_idx AS VARCHAR) || '>' AS subj,
                     '<http://kg.example/ontology/mentions>' AS pred,
                     '<http://kg.example/alias/entity-' || norm_key || '>'
                       AS obj
              FROM m
              UNION ALL
              SELECT DISTINCT
                     '<http://kg.example/alias/entity-' || norm_key || '>',
                     '<http://kg.example/ontology/label>',
                     '"Entity_' || norm_key || '"'
              FROM m)
        """,
        # WL replay: the unrolled refinement CTE chain (_wl_sql)
        "kg_wl_signatures": _wl_sql(rounds=2),
        # entity-summary replay: predicate histogram + one window;
        # the same (count, pred, obj) byte-order tie-break
        "kg_entity_summary": f"""
            WITH tr AS ({TRANSCRIPTS_SQL}),
            t AS (SELECT DISTINCT * FROM ({_TURN_TRIPLES_UNION})),
            pn AS (SELECT pred, COUNT(*) AS n FROM t GROUP BY pred),
            r AS (SELECT t.subj, t.pred, t.obj,
                         ROW_NUMBER() OVER (PARTITION BY t.subj
                                            ORDER BY pn.n, t.pred, t.obj)
                           AS rk
                  FROM t JOIN pn USING (pred))
            SELECT subj, pred, obj, CAST(rk AS INTEGER) AS rank
            FROM r WHERE rk <= 2
        """,
        # bucketed-star replay: the join result is exactly the
        # tool-turn rows (every turn has one role triple)
        "kg_bucketed_star": f"""
            WITH tr AS ({TRANSCRIPTS_SQL})
            SELECT '<http://kg.example/conv/' || conv_id || '/turn/'
                     || CAST(turn_idx AS VARCHAR) || '>' AS subj,
                   '<http://kg.example/tool/' || tool || '>' AS tool,
                   '"' || role || '"' AS role
            FROM tr WHERE tool IS NOT NULL
        """,
        # SHACL replay: every turn has exactly one role triple (so
        # min/maxCount on kg:role never fire) and a usedTool triple iff
        # the source row has a tool; `in` violations are exactly the
        # role='tool' turns, minCount(usedTool) violations exactly the
        # tool-less turns with the count rendered as '0'
        "reason_shacl": f"""
            WITH tr AS ({TRANSCRIPTS_SQL}),
            turns AS (
              SELECT '<http://kg.example/conv/' || conv_id || '/turn/'
                       || CAST(turn_idx AS VARCHAR) || '>' AS focus,
                     role, tool
              FROM tr)
            SELECT focus, 'TurnShape' AS shape,
                   '<http://kg.example/ontology/role>' AS path,
                   'in' AS "constraint", '"' || role || '"' AS value
            FROM turns WHERE role NOT IN ('user', 'assistant')
            UNION ALL
            SELECT focus, 'TurnShape',
                   '<http://kg.example/ontology/usedTool>',
                   'minCount', '0'
            FROM turns WHERE tool IS NULL
        """,
        # property-path replay: kg:next chains consecutive turn_idx
        # within a conversation, so next+ is exactly the strict
        # turn-order relation (a.turn_idx < b.turn_idx, same conv) and
        # next/usedTool lands on b's successor row's tool
        "sparql_kg_path": f"""
            WITH tr AS ({TRANSCRIPTS_SQL})
            SELECT DISTINCT
              'http://kg.example/conv/' || a.conv_id || '/turn/'
                || CAST(a.turn_idx AS VARCHAR) AS a,
              'http://kg.example/conv/' || b.conv_id || '/turn/'
                || CAST(b.turn_idx AS VARCHAR) AS b,
              'http://kg.example/tool/' || c.tool AS tool
            FROM tr a
            JOIN tr b ON a.conv_id = b.conv_id
                     AND a.turn_idx < b.turn_idx
            JOIN tr c ON c.conv_id = b.conv_id
                     AND c.turn_idx = b.turn_idx + 1
                     AND c.tool IS NOT NULL
        """,
        # anchored-path replay: next+ from conv-1's turn 0 is exactly
        # conv-1's turns with turn_idx > 0 (the chain is consecutive)
        "sparql_kg_path_anchored": f"""
            WITH tr AS ({TRANSCRIPTS_SQL})
            SELECT DISTINCT
              'http://kg.example/conv/conv-1/turn/'
                || CAST(turn_idx AS VARCHAR) AS b,
              role
            FROM tr WHERE conv_id = 'conv-1' AND turn_idx > 0
        """,
        # subquery replay: top-5 conversations by tool-turn count
        # (count DESC, conv IRI lexical tie-break), then all their
        # tool turns — the IRI prefix is shared so bracketed/plain
        # lexical order coincide
        "sparql_kg_subquery": f"""
            WITH tr AS ({TRANSCRIPTS_SQL}),
            top5 AS (
              SELECT conv_id, COUNT(*) AS ntool
              FROM tr WHERE tool IS NOT NULL
              GROUP BY conv_id
              ORDER BY ntool DESC,
                       'http://kg.example/conv/' || conv_id
              LIMIT 5)
            SELECT 'http://kg.example/conv/' || t.conv_id AS conv,
                   'http://kg.example/conv/' || t.conv_id || '/turn/'
                     || CAST(t.turn_idx AS VARCHAR) AS turn,
                   'http://kg.example/tool/' || t.tool AS tool
            FROM tr t JOIN top5 ON t.conv_id = top5.conv_id
            WHERE t.tool IS NOT NULL
        """,
        # update replay: the store after the script = (base triples
        # minus the matched role-"tool" rows) + the rewritten role +
        # marker triples for the matched subjects + the ground INSERT
        # DATA triple, as a set (the engine's anti-join insert only
        # adds absent triples; DISTINCT replays that)
        "sparql_kg_update": f"""
            WITH tr AS ({TRANSCRIPTS_SQL}),
            base AS (SELECT DISTINCT * FROM ({_TURN_TRIPLES_UNION})),
            matched AS (
              SELECT DISTINCT subj FROM base
              WHERE pred = '<http://kg.example/ontology/role>'
                AND obj = '"tool"')
            SELECT DISTINCT subj, pred, obj FROM (
              SELECT subj, pred, obj FROM base
              WHERE NOT (pred = '<http://kg.example/ontology/role>'
                         AND obj = '"tool"')
              UNION ALL
              SELECT subj, '<http://kg.example/ontology/role>',
                     '"tool_result"' FROM matched
              UNION ALL
              SELECT subj, '<http://kg.example/ontology/rewritten>',
                     '"true"' FROM matched
              UNION ALL
              SELECT '<http://kg.example/dataset>',
                     '<http://kg.example/ontology/version>', '"r4"')
        """,
        # builtin-function replay: STRAFTER/STRBEFORE dissect the turn
        # IRI (conv/<cid>/turn/<idx> after the first "conv/"), ROUND is
        # XPath floor(x+0.5), IF(BOUND(?tool),…) is the tool/role CASE,
        # SHA256 over DuckDB's sha256()
        "sparql_kg_functions": f"""
            WITH tr AS ({TRANSCRIPTS_SQL}),
            b AS (
              SELECT 'http://kg.example/conv/' || conv_id || '/turn/'
                       || CAST(turn_idx AS VARCHAR) AS turn,
                     conv_id || '/turn/' || CAST(turn_idx AS VARCHAR)
                       AS loc,
                     conv_id AS cid,
                     CASE WHEN tool IS NOT NULL THEN tool
                          ELSE role END AS kind
              FROM tr)
            SELECT turn, cid,
                   CAST(CAST(FLOOR(LENGTH(loc) / 2.0 + 0.5) AS DOUBLE)
                        AS VARCHAR) AS halflen,
                   kind,
                   sha256(cid || ':' || kind) AS fp
            FROM b
        """,
        # inverse+alternation replay: conv → every tool IRI or role
        # lexical value over its member turns
        "sparql_kg_path_alt": f"""
            WITH tr AS ({TRANSCRIPTS_SQL})
            SELECT DISTINCT * FROM (
              SELECT 'http://kg.example/conv/' || conv_id AS conv,
                     'http://kg.example/tool/' || tool AS v
              FROM tr WHERE tool IS NOT NULL
              UNION ALL
              SELECT 'http://kg.example/conv/' || conv_id, role FROM tr)
        """,
        "transcripts_mentions": f"""
            WITH {_MENTION_CTES}
            SELECT conv_id, turn_idx, surface, norm_key FROM m
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_md5, COUNT(*) AS n_dups,
                   MIN(doc_id) AS rep_doc_id
            FROM documents GROUP BY text
        """,
        # rolling 5-token window hashes; a window is duplicated when
        # its hash spans >= 2 distinct documents
        "dedup_substring_spans": """
            WITH toks AS (SELECT doc_id,
                                 string_split(lower(text), ' ') AS t
                          FROM documents),
            w AS (SELECT doc_id,
                         unnest(list_transform(
                           generate_series(1, len(t) - 4),
                           i -> md5(array_to_string(t[i:i+4], ' '))))
                           AS h
                  FROM toks WHERE len(t) >= 5),
            s AS (SELECT h, COUNT(DISTINCT doc_id) AS span_docs
                  FROM w GROUP BY h)
            SELECT doc_id, COUNT(*) AS n_windows,
                   CAST(SUM(CASE WHEN span_docs >= 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_dup_windows,
                   MAX(span_docs) AS max_span_docs
            FROM w JOIN s USING (h)
            GROUP BY doc_id
        """,
        "dedup_ngram_jaccard": f"""
            WITH {_SHINGLES_CTE},
            -- mirror of max_shingle_df=1000 (kgloom/ops/dedup.py): drop
            -- shingles whose document frequency exceeds the cap BEFORE
            -- sizes and intersections, exactly as the Spark side does
            sh_capped AS (
              SELECT doc_id, shingle FROM sh
              WHERE shingle IN (SELECT shingle FROM sh
                                GROUP BY shingle HAVING COUNT(*) <= 1000)),
            sizes AS (SELECT doc_id, COUNT(*) AS n_sh
                      FROM sh_capped GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     COUNT(*) AS n_inter
              FROM sh_capped a JOIN sh_capped b USING (shingle)
              WHERE a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
            -- threshold on the UNROUNDED value, same as Spark: integer
            -- division in double is bit-identical across engines
            SELECT doc_a, doc_b,
                   ROUND(CAST(n_inter AS DOUBLE)
                         / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)
                  >= 0.2
        """,
        "dedup_minhash_lsh": f"""
            WITH {_SHINGLES_CTE},
            sig AS (
              SELECT doc_id,
                     MIN(substr(md5('0|' || shingle), 1, 16)) AS h0,
                     MIN(substr(md5('1|' || shingle), 1, 16)) AS h1,
                     MIN(substr(md5('2|' || shingle), 1, 16)) AS h2,
                     MIN(substr(md5('3|' || shingle), 1, 16)) AS h3,
                     MIN(substr(md5('4|' || shingle), 1, 16)) AS h4,
                     MIN(substr(md5('5|' || shingle), 1, 16)) AS h5,
                     MIN(substr(md5('6|' || shingle), 1, 16)) AS h6,
                     MIN(substr(md5('7|' || shingle), 1, 16)) AS h7
              FROM sh GROUP BY doc_id),
            bands AS (
              SELECT doc_id, 0 AS band, h0 || '|' || h1 AS band_key FROM sig
              UNION ALL
              SELECT doc_id, 1, h2 || '|' || h3 FROM sig
              UNION ALL
              SELECT doc_id, 2, h4 || '|' || h5 FROM sig
              UNION ALL
              SELECT doc_id, 3, h6 || '|' || h7 FROM sig),
            -- mirror of max_band_bucket=1000 (kgloom/ops/dedup.py):
            -- buckets larger than the cap are dropped BEFORE the
            -- self-join, exactly as the Spark side does
            bok AS (SELECT band, band_key FROM bands
                    GROUP BY band, band_key HAVING COUNT(*) <= 1000),
            bc AS (SELECT doc_id, band, band_key
                   FROM bands JOIN bok USING (band, band_key))
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bc a JOIN bc b USING (band, band_key)
            WHERE a.doc_id < b.doc_id
        """,
        # decontamination: same 5-gram shingles, benchmark = doc_id<20,
        # semi-join count with 0 for clean docs
        "dedup_contamination": """
            WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                          FROM documents),
            sh AS (
              SELECT DISTINCT doc_id, shingle FROM (
                SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(t) - 4),
                              i -> array_to_string(t[i:i+4], ' '))) AS shingle
                FROM toks WHERE len(t) >= 5) u),
            bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
            hits AS (SELECT doc_id, COUNT(*) AS n
                     FROM sh JOIN bsh USING (shingle) GROUP BY doc_id)
            SELECT d.doc_id,
                   COALESCE(h.n, 0) AS n_contaminated_shingles
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        # exact-dedup-first clustering replay: representatives = min
        # doc_id per text; LSH bands (bucket-capped at 1000, mirroring
        # the Spark default) over representatives only; the recursive
        # CTE computes the transitive closure, cluster = the
        # lexicographically minimal reachable rep-id string (exactly
        # the CC operator's min-label rule); every document inherits
        # its representative's cluster through the text md5
        "dedup_clusters": f"""
            WITH RECURSIVE
            reps AS (
              SELECT md5(text) AS tm, MIN(doc_id) AS rep
              FROM documents GROUP BY text),
            rd AS (
              SELECT d.doc_id, d.text FROM documents d
              JOIN reps r ON d.doc_id = r.rep),
            toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                     FROM rd),
            sh AS (
              SELECT DISTINCT doc_id, shingle FROM (
                SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(t) - 2),
                              i -> array_to_string(t[i:i+2], ' '))) AS shingle
                FROM toks WHERE len(t) >= 3) u),
            sig AS (
              SELECT doc_id,
                     MIN(substr(md5('0|' || shingle), 1, 16)) AS h0,
                     MIN(substr(md5('1|' || shingle), 1, 16)) AS h1,
                     MIN(substr(md5('2|' || shingle), 1, 16)) AS h2,
                     MIN(substr(md5('3|' || shingle), 1, 16)) AS h3,
                     MIN(substr(md5('4|' || shingle), 1, 16)) AS h4,
                     MIN(substr(md5('5|' || shingle), 1, 16)) AS h5,
                     MIN(substr(md5('6|' || shingle), 1, 16)) AS h6,
                     MIN(substr(md5('7|' || shingle), 1, 16)) AS h7
              FROM sh GROUP BY doc_id),
            bands AS (
              SELECT doc_id, 0 AS band, h0 || '|' || h1 AS band_key FROM sig
              UNION ALL SELECT doc_id, 1, h2 || '|' || h3 FROM sig
              UNION ALL SELECT doc_id, 2, h4 || '|' || h5 FROM sig
              UNION ALL SELECT doc_id, 3, h6 || '|' || h7 FROM sig),
            bok AS (SELECT band, band_key FROM bands
                    GROUP BY band, band_key HAVING COUNT(*) <= 1000),
            bc AS (SELECT doc_id, band, band_key
                   FROM bands JOIN bok USING (band, band_key)),
            prs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bc a JOIN bc b USING (band, band_key)
              WHERE a.doc_id < b.doc_id),
            edges AS (
              SELECT CAST(doc_a AS VARCHAR) AS u,
                     CAST(doc_b AS VARCHAR) AS v FROM prs
              UNION
              SELECT CAST(doc_b AS VARCHAR), CAST(doc_a AS VARCHAR)
              FROM prs),
            reach(u, v) AS (
              SELECT u, v FROM edges
              UNION
              SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
            comp AS (
              SELECT u, MIN(m) AS cluster FROM (
                SELECT u, v AS m FROM reach
                UNION ALL SELECT u, u FROM edges) t
              GROUP BY u)
            SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
                   COALESCE(c.cluster, CAST(r.rep AS VARCHAR))
                     AS cluster_id
            FROM documents d
            JOIN reps r ON md5(d.text) = r.tm
            LEFT JOIN comp c ON CAST(r.rep AS VARCHAR) = c.u
        """,
        "dedup_embedding_cosine": """
            WITH e AS (SELECT vec_id, label,
                              CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings)
            -- threshold guard band strictly BELOW the threshold
            -- (mirrors threshold_eps in kgloom/ops/dedup.py): BOTH
            -- engines keep sim > t - 1e-12, so a marginal fold-order
            -- difference can't put a pair on different sides, and
            -- pairs at exactly the threshold (identical vectors with
            -- threshold=1.0) are kept
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim
            FROM e a JOIN e b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) > 0.35 - 1e-12
        """,
        # step-for-step relational replay of the curation chain: exact
        # reps → capped-shingle jaccard losers (larger doc_id of each
        # pair) → token minimum → stopword-vote language
        "curation_pipeline": """
            WITH reps AS (
              SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
            kept1 AS (
              SELECT d.doc_id, d.text
              FROM documents d JOIN reps USING (doc_id)),
            toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                     FROM kept1),
            sh AS (
              SELECT DISTINCT doc_id, shingle FROM (
                SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(t) - 2),
                              i -> array_to_string(t[i:i+2], ' '))) AS shingle
                FROM toks WHERE len(t) >= 3) u),
            shc AS (
              SELECT doc_id, shingle FROM sh
              WHERE shingle IN (SELECT shingle FROM sh
                                GROUP BY shingle HAVING COUNT(*) <= 1000)),
            sizes AS (SELECT doc_id, COUNT(*) AS n_sh
                      FROM shc GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     COUNT(*) AS n_inter
              FROM shc a JOIN shc b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id),
            losers AS (
              SELECT DISTINCT doc_b AS doc_id FROM inter
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
              WHERE CAST(n_inter AS DOUBLE)
                    / (sa.n_sh + sb.n_sh - n_inter) >= 0.4),
            kept2 AS (
              SELECT doc_id, text FROM kept1
              WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
            v AS (
              SELECT doc_id,
                len(string_split(lower(text), ' ')) AS n_tokens,
                len(list_filter(string_split(lower(text),' '),
                    x -> x IN ('the','of','and','to','in'))) AS v_en,
                len(list_filter(string_split(lower(text),' '),
                    x -> x IN ('el','de','la','los','que'))) AS v_es,
                len(list_filter(string_split(lower(text),' '),
                    x -> x IN ('le','la','les','des','et'))) AS v_fr,
                len(list_filter(string_split(lower(text),' '),
                    x -> x IN ('der','die','das','und','ist'))) AS v_de
              FROM kept2)
            SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
                   'en' AS pred_lang
            FROM v
            WHERE n_tokens >= 3
              AND greatest(v_de, v_en, v_es, v_fr) > 0
              AND v_de != greatest(v_de, v_en, v_es, v_fr)
              AND v_en = greatest(v_de, v_en, v_es, v_fr)
        """,
        # same md5 hex-prefix rule, replayed verbatim: DuckDB's md5()
        # emits the identical lowercase digest, and equal-width
        # lowercase hex compares lexicographically = numerically
        "curate_stratified_sample": f"""
            SELECT doc_id, lang, source FROM documents
            WHERE substr(md5(doc_id::VARCHAR || 'mix1'), 1, 8) <
              CASE lang WHEN 'en' THEN '{_hex_threshold(0.5)}'
                        WHEN 'de' THEN '{_hex_threshold(0.25)}'
                        ELSE '{_hex_threshold(0.1)}' END
        """,
        # temperature-mix replay: same per-language histogram, same
        # rank · sqrt(n) < 2^32 · sqrt(n_min) gate — integer inputs
        # through IEEE-exact sqrt/multiply only, so the keep set is
        # bit-identical
        "curate_temperature_mix": """
            WITH c AS (SELECT lang, COUNT(*) AS n
                       FROM documents GROUP BY lang),
            m AS (SELECT MIN(n) AS nmin FROM c)
            SELECT d.doc_id, d.lang
            FROM documents d JOIN c USING (lang), m
            WHERE CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
                                           1, 8) AS BIGINT) AS DOUBLE)
                    * sqrt(CAST(c.n AS DOUBLE))
                  < 4294967296.0 * sqrt(CAST(m.nmin AS DOUBLE))
        """,
        "curate_hash_split": f"""
            SELECT doc_id,
              CASE WHEN substr(md5(doc_id::VARCHAR || 'split1'), 1, 8)
                        < '{_hex_threshold(0.8)}' THEN 'train'
                   WHEN substr(md5(doc_id::VARCHAR || 'split1'), 1, 8)
                        < '{_hex_threshold(0.9)}' THEN 'val'
                   ELSE 'test' END AS split
            FROM documents
        """,
        # same normalization regexes, DuckDB 'g' flag = Spark's
        # replace-all default
        "text_normalize": """
            WITH dirty AS (
              SELECT doc_id,
                     '  ' || text || CHR(9) || ' x' || CHR(1) || 'y '
                       AS text
              FROM documents)
            SELECT doc_id,
                   TRIM(regexp_replace(
                     regexp_replace(
                       regexp_replace(text,
                         '[\\x00-\\x08\\x0B-\\x1F\\x7F-\\x9F]',
                         '', 'g'),
                       '[\u200b\u200c\u200d\ufeff]', '', 'g'),
                     '\\s+', ' ', 'g')) AS text
            FROM dirty
        """,
        # weak-supervision replay: same CASE LFs, same majority with
        # lexicographic tie-break and runner-up margin
        "curate_label_vote": """
            WITH base AS (
              SELECT doc_id,
                     CASE WHEN n_chars >= 150 THEN 'keep'
                          WHEN n_chars < 80 THEN 'drop' END AS l1,
                     CASE WHEN lang = 'en' THEN 'keep' END AS l2,
                     CASE WHEN source IN ('src0', 'src1')
                          THEN 'drop' END AS l3
              FROM documents),
            v AS (SELECT doc_id, unnest([l1, l2, l3]) AS label
                  FROM base),
            vm AS (SELECT doc_id, label, COUNT(*) AS n_votes
                   FROM v WHERE label IS NOT NULL GROUP BY 1, 2),
            r AS (SELECT doc_id, label, n_votes,
                         ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY n_votes DESC, label) AS rn,
                         SUM(n_votes) OVER (PARTITION BY doc_id)
                           AS n_total,
                         LEAD(n_votes) OVER (PARTITION BY doc_id
                           ORDER BY n_votes DESC, label) AS nx
                  FROM vm)
            SELECT doc_id, label, n_votes,
                   CAST(n_total AS BIGINT) AS n_total,
                   n_votes - COALESCE(nx, 0) AS margin
            FROM r WHERE rn = 1
        """,
        # exact per-group top-k by the same md5 rank + key tiebreak
        "curate_group_sample": """
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                     ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY substr(md5(CAST(doc_id AS VARCHAR)
                                           || 'gs1'), 1, 8), doc_id)
                       AS rn
              FROM documents)
            WHERE rn <= 100
        """,
        # DSIR replay: hashed unigram+bigram models, add-1 smoothing,
        # md5-derived Gumbel, same (rounded score, doc_id) cut
        "curate_dsir": """
            WITH toks AS (SELECT doc_id, lang,
                                 string_split(lower(text), ' ') AS t
                          FROM documents),
            g AS (SELECT doc_id, lang,
                         unnest(list_concat(t,
                           list_transform(generate_series(1, len(t) - 1),
                                          i -> array_to_string(t[i:i+1],
                                                               ' '))))
                           AS gram
                  FROM toks),
            b AS (SELECT doc_id, lang,
                         CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT)
                           % 256 AS bucket
                  FROM g),
            tc AS (SELECT bucket, COUNT(*) AS ct FROM b
                   WHERE lang = 'en' GROUP BY bucket),
            rc AS (SELECT bucket, COUNT(*) AS cr FROM b GROUP BY bucket),
            tot AS (SELECT (SELECT SUM(ct) FROM tc) AS tt,
                           (SELECT SUM(cr) FROM rc) AS tr),
            lam AS (SELECT COALESCE(rc.bucket, tc.bucket) AS bucket,
                           ln((COALESCE(ct, 0) + 1.0) / (tt + 256.0))
                         - ln((COALESCE(cr, 0) + 1.0) / (tr + 256.0))
                             AS lam
                    FROM rc FULL OUTER JOIN tc ON rc.bucket = tc.bucket,
                         tot),
            w AS (SELECT doc_id, SUM(lam) AS logw
                  FROM b JOIN lam USING (bucket) GROUP BY doc_id)
            SELECT doc_id, ROUND(logw, 6) AS dsir_logw,
                   ROUND(logw + -ln(-ln(
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                             || 'dsir'), 1, 15) AS BIGINT)
                       / 1152921504606846976.0)), 6) AS dsir_score
            FROM w
            ORDER BY dsir_score DESC, doc_id
            LIMIT 100
        """,
        # sliding-window replay: same stride arithmetic, DuckDB
        # 1-based inclusive list slicing
        "text_chunks": """
            WITH t AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents),
            c AS (
              SELECT doc_id, toks,
                     CASE WHEN len(toks) <= 32 THEN 1
                          ELSE 1 + CAST(CEIL((len(toks) - 32) / 24.0)
                                        AS INTEGER) END AS nc
              FROM t)
            SELECT doc_id,
                   CAST(i AS INTEGER) AS chunk_idx,
                   array_to_string(toks[i * 24 + 1 : i * 24 + 32], ' ')
                     AS chunk,
                   CAST(len(toks[i * 24 + 1 : i * 24 + 32]) AS INTEGER)
                     AS n_tokens
            FROM c, UNNEST(generate_series(0, nc - 1)) AS u(i)
        """,
        "text_token_stats": """
            SELECT doc_id,
                   len(string_split(lower(text), ' ')) AS n_tokens,
                   len(list_distinct(string_split(lower(text), ' ')))
                     AS n_uniq_tokens,
                   length(text) AS n_chars,
                   list_max(list_transform(string_split(lower(text), ' '),
                            x -> length(x))) AS max_token_len
            FROM documents
        """,
        # concat-and-chunk packing replay: identical md5 bucket, window
        # cumsum per bucket in doc_id order, floor/mod against the
        # 2048-token budget
        "pack_concat_chunk": """
            WITH tok AS (
              SELECT doc_id,
                     len(string_split(lower(text), ' ')) AS n_tokens
              FROM documents),
            b AS (
              SELECT doc_id,
                     CAST(CAST(('0x' || substr(md5(doc_id || ''), 1, 8))
                               AS BIGINT) % 8 AS INT) AS bucket,
                     n_tokens
              FROM tok),
            c AS (
              SELECT *,
                     SUM(n_tokens) OVER (PARTITION BY bucket
                       ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) - n_tokens AS cb
              FROM b)
            SELECT doc_id, bucket,
                   CAST(FLOOR(cb / 2048) AS INT) AS pack,
                   CAST(cb % 2048 AS INT) AS "offset",
                   CAST(n_tokens AS INT) AS n_tokens,
                   CAST(CASE WHEN cb % 2048 + n_tokens > 2048
                        THEN 1 ELSE 0 END AS INT) AS straddles
            FROM c
        """,
        # greedy first-fit replay: the sequential per-bucket discipline
        # as a recursive CTE — row rn+1's pack/fill derive from row
        # rn's, exactly the applyInPandas loop
        "pack_greedy": """
            WITH RECURSIVE tok AS (
              SELECT doc_id,
                     len(string_split(lower(text), ' ')) AS n_tokens
              FROM documents),
            b AS (
              SELECT doc_id,
                     CAST(CAST(('0x' || substr(md5(doc_id || ''), 1, 8))
                               AS BIGINT) % 8 AS INT) AS bucket,
                     n_tokens
              FROM tok),
            d AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket
                          ORDER BY doc_id) AS rn
              FROM b),
            g AS (
              SELECT doc_id, bucket, rn, n_tokens, 0 AS pack,
                     CAST(n_tokens AS BIGINT) AS fill
              FROM d WHERE rn = 1
              UNION ALL
              SELECT d.doc_id, d.bucket, d.rn, d.n_tokens,
                     CASE WHEN g.fill > 0 AND g.fill + d.n_tokens > 2048
                          THEN g.pack + 1 ELSE g.pack END,
                     CASE WHEN g.fill > 0 AND g.fill + d.n_tokens > 2048
                          THEN CAST(d.n_tokens AS BIGINT)
                          ELSE g.fill + d.n_tokens END
              FROM g JOIN d ON d.bucket = g.bucket AND d.rn = g.rn + 1)
            SELECT doc_id, bucket, CAST(pack AS INT) AS pack, fill,
                   CAST(n_tokens AS INT) AS n_tokens
            FROM g
        """,
        "text_quality": """
            SELECT doc_id,
                   len(string_split(lower(text), ' ')) AS n_tokens,
                   len(list_filter(string_split(lower(text), ' '),
                       x -> x IN ('the','of','and','to','in'))) AS n_stopwords,
                   length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
                   length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
            FROM documents
        """,
        # linear-quality replay: same integer signals, the fold in
        # SORTED feature-name order (n_digits, n_punct, n_stopwords,
        # n_tokens) with every constant cast to DOUBLE (a bare DuckDB
        # decimal literal would compute in DECIMAL, not IEEE double)
        "text_quality_logit": """
            WITH q AS (
              SELECT doc_id,
                     len(string_split(lower(text), ' ')) AS n_tokens,
                     len(list_filter(string_split(lower(text), ' '),
                         x -> x IN ('the','of','and','to','in')))
                       AS n_stopwords,
                     length(regexp_replace(text, '[^0-9]', '', 'g'))
                       AS n_digits,
                     length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                       AS n_punct
              FROM documents),
            l AS (
              SELECT doc_id,
                     ((((CAST(-0.1 AS DOUBLE))
                        + n_digits * CAST(-0.02 AS DOUBLE))
                       + n_punct * CAST(-0.01 AS DOUBLE))
                      + n_stopwords * CAST(0.05 AS DOUBLE))
                     + n_tokens * CAST(0.01 AS DOUBLE) AS logit
              FROM q)
            SELECT doc_id, logit, logit > 0 AS keep FROM l
        """,
        # linkpred replay: hex split at 0.2 (0x33333333), AA over the
        # train half, per-test-edge candidate rank
        "graph_linkpred_ranks": _linkpred_sql(
            f"WITH {_MENTION_CTES} SELECT u, v FROM ce", cap=100000,
            thresh_hex="33333333"),
        # subject-corruption replay: same vocabulary/draw, collision
        # EXISTS on the corrupted-subject side
        "kg_negative_samples_subj": f"""
            WITH tri AS (
              SELECT DISTINCT * FROM (
                SELECT '<{ex}nation/' || CAST(n_nationkey AS VARCHAR) || '>'
                         AS subj,
                       '<{ex}ontology/name>' AS pred,
                       '"' || n_name || '"' AS obj
                FROM nation
                UNION ALL
                SELECT '<{ex}nation/' || CAST(n_nationkey AS VARCHAR) || '>',
                       '<{ex}ontology/inRegion>',
                       '<{ex}region/' || CAST(n_regionkey AS VARCHAR) || '>'
                FROM nation)),
            ents AS (
              SELECT DISTINCT entity FROM (
                SELECT subj AS entity FROM tri
                UNION ALL
                SELECT obj FROM tri WHERE obj NOT LIKE '"%')),
            idx AS (
              SELECT entity,
                     ROW_NUMBER() OVER (ORDER BY
                       CAST('0x' || substr(md5(entity), 1, 4) AS BIGINT)
                         % 256,
                       entity) - 1 AS idx
              FROM ents),
            n AS (SELECT COUNT(*) AS n FROM ents),
            expanded AS (
              SELECT t.subj, t.pred, t.obj, g.i AS neg_idx
              FROM tri t CROSS JOIN (
                SELECT UNNEST(range(0, 20)) AS i) g),
            drawn AS (
              SELECT e.*,
                     CAST('0x' || substr(md5(e.subj || e.pred || e.obj ||
                       CAST(e.neg_idx AS VARCHAR)), 1, 8) AS BIGINT)
                       % (SELECT n FROM n) AS slot
              FROM expanded e)
            SELECT d.subj, d.pred, d.obj, d.neg_idx,
                   x.entity AS neg_subj,
                   EXISTS (SELECT 1 FROM tri t
                           WHERE t.subj = x.entity AND t.pred = d.pred
                             AND t.obj = d.obj) AS is_positive
            FROM drawn d JOIN idx x ON d.slot = x.idx
        """,
        # negative-sampling replay: identical md5-bucket two-phase
        # vocabulary index (ORDER BY bucket, entity == per-bucket rank
        # + offsets), identical md5 draw, EXISTS collision flag
        "kg_negative_samples": f"""
            WITH tri AS (
              SELECT DISTINCT * FROM (
                SELECT '<{ex}nation/' || CAST(n_nationkey AS VARCHAR) || '>'
                         AS subj,
                       '<{ex}ontology/name>' AS pred,
                       '"' || n_name || '"' AS obj
                FROM nation
                UNION ALL
                SELECT '<{ex}nation/' || CAST(n_nationkey AS VARCHAR) || '>',
                       '<{ex}ontology/inRegion>',
                       '<{ex}region/' || CAST(n_regionkey AS VARCHAR) || '>'
                FROM nation)),
            ents AS (
              SELECT DISTINCT entity FROM (
                SELECT subj AS entity FROM tri
                UNION ALL
                SELECT obj FROM tri WHERE obj NOT LIKE '"%')),
            idx AS (
              SELECT entity,
                     ROW_NUMBER() OVER (ORDER BY
                       CAST('0x' || substr(md5(entity), 1, 4) AS BIGINT)
                         % 256,
                       entity) - 1 AS idx
              FROM ents),
            n AS (SELECT COUNT(*) AS n FROM ents),
            expanded AS (
              SELECT t.subj, t.pred, t.obj, g.i AS neg_idx
              FROM tri t CROSS JOIN (
                SELECT UNNEST(range(0, 20)) AS i) g),
            drawn AS (
              SELECT e.*,
                     CAST('0x' || substr(md5(e.subj || e.pred || e.obj ||
                       CAST(e.neg_idx AS VARCHAR)), 1, 8) AS BIGINT)
                       % (SELECT n FROM n) AS slot
              FROM expanded e)
            SELECT d.subj, d.pred, d.obj, d.neg_idx,
                   x.entity AS neg_obj,
                   EXISTS (SELECT 1 FROM tri t
                           WHERE t.subj = d.subj AND t.pred = d.pred
                             AND t.obj = x.entity) AS is_positive
            FROM drawn d JOIN idx x ON d.slot = x.idx
        """,
        # bigram repetition replay: the same start-offset windows
        # (DuckDB range() is stop-exclusive; list slices are 1-based
        # inclusive) and the same distinct×filter top count
        "text_repetition": """
            WITH t AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents),
            g AS (
              SELECT doc_id, len(toks) AS n_tokens,
                     CASE WHEN len(toks) < 2 THEN []
                          ELSE list_transform(
                            range(1, len(toks)),
                            i -> array_to_string(toks[i:i+1], ' ')) END
                       AS grams
              FROM t)
            SELECT doc_id, n_tokens,
                   len(grams) AS n_ngrams,
                   len(list_distinct(grams)) AS n_distinct_ngrams,
                   COALESCE(list_max(list_transform(
                       list_distinct(grams),
                       x -> len(list_filter(grams, y -> y = x)))), 0)
                     AS top_ngram_count
            FROM g
        """,
        # commonness replay: distinct bigrams per doc, document
        # frequency >= 3, count of common grams per doc (0-filled)
        "text_commonness": """
            WITH t AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(toks) < 2 THEN []
                          ELSE list_distinct(list_transform(
                            range(1, len(toks)),
                            i -> array_to_string(toks[i:i+1], ' '))) END
                       AS grams
              FROM t),
            e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
            c AS (SELECT gram FROM e GROUP BY gram
                  HAVING COUNT(*) >= 3),
            k AS (SELECT e.doc_id, COUNT(*) AS n_common
                  FROM e JOIN c USING (gram) GROUP BY e.doc_id)
            SELECT g.doc_id,
                   len(g.grams) AS n_distinct_ngrams,
                   COALESCE(k.n_common, 0) AS n_common_ngrams
            FROM g LEFT JOIN k ON g.doc_id = k.doc_id
        """,
        "text_language_id": """
            WITH v AS (
              SELECT doc_id,
                len(list_filter(string_split(lower(text),' '),
                    x -> x IN ('the','of','and','to','in'))) AS v_en,
                len(list_filter(string_split(lower(text),' '),
                    x -> x IN ('el','de','la','los','que'))) AS v_es,
                len(list_filter(string_split(lower(text),' '),
                    x -> x IN ('le','la','les','des','et'))) AS v_fr,
                len(list_filter(string_split(lower(text),' '),
                    x -> x IN ('der','die','das','und','ist'))) AS v_de
              FROM documents)
            SELECT doc_id,
              CASE WHEN greatest(v_de,v_en,v_es,v_fr) = 0 THEN 'und'
                   WHEN v_de = greatest(v_de,v_en,v_es,v_fr) THEN 'de'
                   WHEN v_en = greatest(v_de,v_en,v_es,v_fr) THEN 'en'
                   WHEN v_es = greatest(v_de,v_en,v_es,v_fr) THEN 'es'
                   ELSE 'fr' END AS pred_lang
            FROM v
        """,
        "text_fingerprint": """
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(
                       string_split(lower(text), ' '))), ' ')) AS fingerprint
            FROM documents
        """,
        # same chained replace order as redact_pii (count before each
        # pattern's own replacement, on the previous pattern's output)
        "text_redact_pii": r"""
            WITH s0 AS (SELECT doc_id, text AS t0 FROM documents),
            s1 AS (SELECT doc_id,
                     len(regexp_extract_all(t0,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+'))
                       AS c1,
                     regexp_replace(t0,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+',
                       '[EMAIL]', 'g') AS t1
                   FROM s0),
            s2 AS (SELECT doc_id, c1,
                     len(regexp_extract_all(t1,
                       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
                       AS c2,
                     regexp_replace(t1,
                       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                       '[IPV4]', 'g') AS t2
                   FROM s1),
            s3 AS (SELECT doc_id, c1, c2,
                     len(regexp_extract_all(t2,
                       '\+?[0-9][0-9 ()-]{7,}[0-9]')) AS c3,
                     regexp_replace(t2, '\+?[0-9][0-9 ()-]{7,}[0-9]',
                       '[PHONE]', 'g') AS t3
                   FROM s2)
            SELECT doc_id, t3 AS text,
                   CAST(c1 + c2 + c3 AS INTEGER) AS n_redactions
            FROM s3
        """,
        # BPE-ish subword estimate — same pattern (constructs with
        # identical Java-regex/RE2 semantics), same integer arithmetic
        "text_subwords": r"""
            WITH p AS (
              SELECT doc_id,
                     regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]') AS pieces
              FROM documents)
            SELECT doc_id,
                   CAST(len(pieces) AS INTEGER) AS n_pieces,
                   CAST(COALESCE(list_sum(list_transform(pieces,
                        x -> CASE WHEN regexp_matches(x, '^[A-Za-z]+$')
                                  THEN (length(x) + 3) // 4
                                  ELSE 1 END)), 0) AS INTEGER) AS n_subwords
            FROM p
        """,
        # MOSS winnowing replayed in SQL: same rolling k-gram hash
        # (15 hex chars of md5 → int64, digit-weighted sum — exact, as
        # in the simhash oracle), same window-min + distinct
        "text_winnow": """
            WITH g AS (
              SELECT doc_id, lower(text) AS t FROM documents),
            m AS (
              SELECT doc_id,
                     list_transform(
                       generate_series(1, greatest(length(t) - 4, 0)),
                       i -> md5(substr(t, i, 5))) AS md5s
              FROM g),
            h AS (
              SELECT doc_id,
                     list_transform(md5s,
                       d -> CAST(list_sum(list_transform(
                              generate_series(1, 15),
                              j -> CAST(strpos('0123456789abcdef',
                                     substr(d, j, 1)) - 1 AS BIGINT)
                                   * CAST(power(16, 15 - j) AS BIGINT)))
                            AS BIGINT)) AS hs
              FROM m),
            w AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(len(hs) - 3, 0)),
                       j -> list_min(hs[j:j+3]))) AS fps
              FROM h)
            SELECT doc_id, unnest(fps) AS fp FROM w
        """,
        # BM25 (Lucene idf variant, k1=1.2 b=0.75): postings restricted
        # to the query vocabulary, df/N/avgdl over the full corpus —
        # k1+1 = 2.2, 1-b = 0.25 written as the exact Python doubles
        "text_bm25": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split(lower(text), ' ')) AS term
              FROM documents),
            postings AS (
              SELECT doc_id, term, COUNT(*) AS tf FROM toks
              WHERE term IN ('data', 'join', 'merge', 'spark', 'window')
              GROUP BY doc_id, term),
            dfreq AS (SELECT term, COUNT(*) AS df FROM postings
                      GROUP BY term),
            dl AS (SELECT doc_id,
                          len(string_split(lower(text), ' ')) AS dl
                   FROM documents),
            stats AS (SELECT COUNT(*) AS n_docs,
                             AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl)
            SELECT p.doc_id, COUNT(*) AS n_hit_terms,
                   SUM(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                       * CAST(p.tf AS DOUBLE) * 2.2
                       / (CAST(p.tf AS DOUBLE)
                          + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl)))
                     AS score
            FROM postings p
            JOIN dfreq f USING (term)
            JOIN dl d USING (doc_id), stats s
            GROUP BY p.doc_id
        """,
        # bigram-LM replay: same context counts and add-k ratio, the
        # per-doc sum as list(lp ORDER BY pos) + sequential
        # list_reduce (0.0-seeded fold == first-element fold since ln
        # never returns -0.0), constants cast to DOUBLE
        # BPE replay: identical chained merge rounds
        "text_bpe_merges": _bpe_sql(n_merges=32),
        "text_apply_bpe": _apply_bpe_sql(n_merges=5),
        "text_bigram_lm": """
            WITH t AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents),
            bg AS (
              SELECT doc_id, i AS pos, toks[i] AS w1, toks[i+1] AS w2
              FROM t, UNNEST(range(1, len(toks))) u(i)),
            c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
            c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
            v AS (SELECT COUNT(DISTINCT w) AS v FROM (
                    SELECT unnest(toks) AS w FROM t)),
            lpg AS (
              SELECT bg.doc_id, bg.pos,
                     ln((c2.c2 + CAST(0.5 AS DOUBLE))
                        / (c1.c1 + CAST(0.5 AS DOUBLE) * v.v)) AS lp
              FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v),
            agg AS (
              SELECT doc_id, COUNT(*) AS n_grams,
                     list(lp ORDER BY pos) AS lps
              FROM lpg GROUP BY doc_id)
            SELECT doc_id, n_grams,
                   list_reduce(lps, (a, b) -> a + b) AS logprob,
                   list_reduce(lps, (a, b) -> a + b) / n_grams
                     AS avg_logprob
            FROM agg
        """,
        # hybrid RRF replay: the bm25 ranking above + the cosine
        # ranking, fused as COALESCE(1/(60+r), 0) sums in list order
        # (bm25 first), every constant cast to DOUBLE
        "retrieval_hybrid_rrf": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split(lower(text), ' ')) AS term
              FROM documents),
            postings AS (
              SELECT doc_id, term, COUNT(*) AS tf FROM toks
              WHERE term IN ('data', 'join', 'merge', 'spark', 'window')
              GROUP BY doc_id, term),
            dfreq AS (SELECT term, COUNT(*) AS df FROM postings
                      GROUP BY term),
            dl AS (SELECT doc_id,
                          len(string_split(lower(text), ' ')) AS dl
                   FROM documents),
            stats AS (SELECT COUNT(*) AS n_docs,
                             AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
            bm AS (
              SELECT p.doc_id,
                     SUM(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                         * CAST(p.tf AS DOUBLE) * 2.2
                         / (CAST(p.tf AS DOUBLE)
                            + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl)))
                       AS score
              FROM postings p
              JOIN dfreq f USING (term)
              JOIN dl d USING (doc_id), stats s
              GROUP BY p.doc_id),
            bmtop AS (
              SELECT doc_id, score FROM bm
              ORDER BY score DESC, doc_id LIMIT 50),
            bmrank AS (
              SELECT doc_id,
                     ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                       AS rank
              FROM bmtop),
            cosscored AS (
              SELECT c.vec_id AS doc_id,
                     list_cosine_similarity(
                       CAST(q.embedding AS DOUBLE[]),
                       CAST(c.embedding AS DOUBLE[])) AS sim
              FROM embeddings q JOIN embeddings c
                ON q.vec_id != c.vec_id
              WHERE q.vec_id = 7),
            cosrank AS (
              SELECT doc_id,
                     ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id)
                       AS rank
              FROM cosscored
              QUALIFY rank <= 50),
            fused AS (
              SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
                     COALESCE(CAST(1 AS DOUBLE) / (60 + b.rank),
                              CAST(0 AS DOUBLE))
                     + COALESCE(CAST(1 AS DOUBLE) / (60 + c.rank),
                                CAST(0 AS DOUBLE)) AS rrf_score
              FROM bmrank b FULL OUTER JOIN cosrank c
                ON b.doc_id = c.doc_id)
            SELECT doc_id, rrf_score,
                   CAST(ROW_NUMBER() OVER (
                     ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS rank
            FROM fused
        """,
        # hard-negative replay: brute cosine band [0.25, 0.95) then
        # per-query top-5 (dot/sqrt(sq*se) — the engine's exact form)
        "ann_hard_negatives": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     list_dot_product(q.v, c.v)
                       / sqrt(list_dot_product(q.v, q.v)
                              * list_dot_product(c.v, c.v)) AS sim
              FROM e q JOIN e c ON q.vec_id != c.vec_id
              WHERE q.vec_id < 10),
            banded AS (
              SELECT * FROM scored
              WHERE sim >= 0.25 AND sim < 0.95),
            ranked AS (
              SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, neighbor_id)
                       AS rank
              FROM banded)
            SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= 5
        """,
        # PageRank replay: the KG's IRI→IRI edges (partOf + usedTool),
        # 3 unrolled power-iteration rounds
        "graph_pagerank": _pagerank_sql(_kg_edges_sql("src", "dst"),
                                        damping=0.85, iterations=3),
        # quantize -> exact integer dot -> rank replay (all integer
        # inputs stay below 2^53, so the double dot sums are exact and
        # engine-identical)
        "ann_quantized_topk": """
            WITH ma AS (
              SELECT 127.0 / MAX(list_max(list_transform(
                       CAST(embedding AS DOUBLE[]), x -> abs(x)))) AS s
              FROM embeddings),
            q AS (
              SELECT vec_id,
                     list_transform(CAST(embedding AS DOUBLE[]),
                                    x -> round(x * s)) AS qv
              FROM embeddings, ma),
            n AS (
              SELECT vec_id, qv,
                     list_dot_product(qv, qv) AS sq
              FROM q),
            scored AS (
              SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                     CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS qdot,
                     list_dot_product(a.qv, b.qv)
                       / sqrt(a.sq * b.sq) AS qsim
              FROM n a JOIN n b ON a.vec_id != b.vec_id
              WHERE a.vec_id < 10),
            ranked AS (
              SELECT query_id, neighbor_id, qdot,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY qsim DESC, neighbor_id)
                       AS rank
              FROM scored)
            SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
                   qdot
            FROM ranked WHERE rank <= 5
        """,
        "ann_cosine_topk": """
            WITH scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     list_cosine_similarity(
                       CAST(q.embedding AS DOUBLE[]),
                       CAST(c.embedding AS DOUBLE[])) AS sim
              FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
              WHERE q.vec_id < 10),
            ranked AS (
              SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, neighbor_id)
                       AS rank
              FROM scored)
            SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= 5
        """,
        # exhaustive-probe k-means IVF == exact brute-force top-k (every
        # cell is probed), so the oracle is the plain cosine top-k SQL
        "ann_ivf_kmeans_topk": """
            WITH scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     list_cosine_similarity(
                       CAST(q.embedding AS DOUBLE[]),
                       CAST(c.embedding AS DOUBLE[])) AS sim
              FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
              WHERE q.vec_id < 8),
            ranked AS (
              SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, neighbor_id)
                       AS rank
              FROM scored)
            SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= 3
        """,
        "ann_ivf_topk": """
            WITH scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     list_cosine_similarity(
                       CAST(q.embedding AS DOUBLE[]),
                       CAST(c.embedding AS DOUBLE[])) AS sim
              FROM embeddings q JOIN embeddings c
                ON q.label = c.label AND q.vec_id != c.vec_id
              WHERE q.vec_id < 20),
            ranked AS (
              SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, neighbor_id)
                       AS rank
              FROM scored)
            SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= 3
        """,
        # Exact O(n²) Hamming oracle: the Spark side's pigeonhole
        # banding (d+1 blocks) is complete for distance ≤ d, so its
        # banded-candidates + popcount-verify result EQUALS the exact
        # all-pairs filter.  The oracle reproduces the 60-bit majority
        # vote bit-for-bit: same md5(token), same 15-hex-char → int64
        # parse (digit-weighted sum; powers of 16 are powers of 2, so
        # the double→bigint casts are exact), same (th >> i) & 1 votes.
        "dedup_simhash": """
            WITH tok AS (
              SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
              FROM documents),
            th AS (
              SELECT doc_id,
                     CAST(list_sum(list_transform(generate_series(1, 15),
                       i -> CAST(strpos('0123456789abcdef',
                                        substr(md5(token), i, 1)) - 1 AS BIGINT)
                            * CAST(power(16, 15 - i) AS BIGINT))) AS BIGINT)
                       AS th
              FROM tok),
            bits AS (
              SELECT doc_id, i,
                     SUM(CAST((th >> i) & 1 AS BIGINT)) AS ones,
                     COUNT(*) AS n
              FROM th, generate_series(0, 59) AS g(i)
              GROUP BY doc_id, i),
            sig AS (
              SELECT doc_id,
                     CAST(SUM(CASE WHEN ones * 2 > n
                                   THEN CAST(1 AS BIGINT) << i
                                   ELSE CAST(0 AS BIGINT) END) AS BIGINT)
                       AS simhash
              FROM bits GROUP BY doc_id)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
                     AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
        """,
        # synth_assets is a pure function of range(64)
        # (kgloom/ops/multimodal.py): payload = utf-8 of
        # repeat('blob' || id, 10), so n_bytes = 10 * (4 + len(str(id))).
        # The Spark side computes n_bytes inside the mapInPandas batch
        # kernel — this checks the Arrow-batch plumbing end-to-end.
        "multimodal_features": """
            SELECT 'asset-' || CAST(i AS VARCHAR) AS asset_id,
                   CASE CAST(i % 3 AS INTEGER)
                        WHEN 0 THEN 'image'
                        WHEN 1 THEN 'audio'
                        ELSE 'video' END AS modality,
                   CAST(10 * (4 + length(CAST(i AS VARCHAR))) AS INTEGER)
                     AS n_bytes
            FROM generate_series(0, 63) AS t(i)
        """,
    }
    # the incremental recurrence must land exactly on the one-shot
    # fusion — same truth, same oracle
    oracles["reason_sameas_incremental"] = oracles["reason_sameas_fusion"]
    # the incremental validation state must derive the SAME report as
    # one-shot SHACL over the full graph — same truth, same oracle
    oracles["reason_shacl_incremental"] = oracles["reason_shacl"]
    # the N-Quads write→parse round trip must land exactly on the
    # original triples
    oracles["rdf_roundtrip"] = oracles["transcripts_turn_triples"]
    # the vertical store slice = the turn triples restricted to one
    # predicate relation
    oracles["kg_vertical_store"] = (
        f"SELECT * FROM ({oracles['transcripts_turn_triples']}) "
        f"WHERE pred = '<{_KGO}usedTool>'")
    # as-of replay: DuckDB's NATIVE ASOF LEFT JOIN — an independent
    # implementation of the same latest-at-or-before semantics
    # ((conv_id, ts) is unique in this corpus, so no tie ambiguity)
    oracles["transcripts_asof_tool"] = f"""
        WITH tr AS ({TRANSCRIPTS_SQL}),
        u AS (SELECT conv_id, turn_idx, ts FROM tr
              WHERE role <> 'tool'),
        t AS (SELECT conv_id, turn_idx AS tool_idx, tool AS tool_name,
                     ts AS tool_ts
              FROM tr WHERE role = 'tool')
        SELECT u.conv_id AS conv_id, u.turn_idx, u.ts,
               t.tool_idx, t.tool_name, t.tool_ts
        FROM u ASOF LEFT JOIN t
          ON u.conv_id = t.conv_id AND u.ts >= t.tool_ts
    """
    # gaps-and-islands replay of the interval coalesce
    oracles["kg_tool_intervals"] = f"""
        WITH tr AS ({TRANSCRIPTS_SQL}),
        t AS (SELECT conv_id, tool, ts, turn_idx FROM tr
              WHERE role = 'tool'),
        l AS (SELECT *,
                     CASE WHEN tool IS NOT DISTINCT FROM
                               LAG(tool) OVER (PARTITION BY conv_id
                                               ORDER BY ts, turn_idx)
                          THEN 0 ELSE 1 END AS chg
              FROM t),
        s AS (SELECT *,
                     SUM(chg) OVER (PARTITION BY conv_id
                                    ORDER BY ts, turn_idx
                                    ROWS UNBOUNDED PRECEDING) AS isl
              FROM l),
        g AS (SELECT conv_id, isl, MIN(tool) AS tool,
                     MIN(ts) AS valid_from,
                     CAST(COUNT(*) AS BIGINT) AS n_rows
              FROM s GROUP BY conv_id, isl)
        SELECT conv_id, tool, valid_from,
               LEAD(valid_from) OVER (PARTITION BY conv_id
                                      ORDER BY valid_from, isl)
                 AS valid_to,
               n_rows
        FROM g
    """
    # snapshot diff replay: two EXCEPTs over the same triple CTEs
    oracles["kg_graph_delta"] = f"""
        WITH trall AS ({TRANSCRIPTS_SQL}),
        a AS (WITH tr AS (SELECT * FROM trall WHERE turn_idx < 10)
              SELECT DISTINCT * FROM ({_TURN_TRIPLES_UNION})),
        b AS (WITH tr AS (SELECT * FROM trall WHERE turn_idx >= 5)
              SELECT DISTINCT * FROM ({_TURN_TRIPLES_UNION}))
        SELECT subj, pred, obj, 'added' AS change
        FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
        UNION ALL
        SELECT subj, pred, obj, 'removed' AS change
        FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
    """
    # MERGE INTO replay: anti-join on the merge key (subj, pred)
    # against the touched tool-turn keys, then the upserts unioned in
    oracles["kg_merge_upsert"] = f"""
        WITH tr AS ({TRANSCRIPTS_SQL}),
        tt AS (SELECT DISTINCT * FROM ({_TURN_TRIPLES_UNION})),
        toolturns AS (SELECT DISTINCT subj FROM tt
                      WHERE pred = '<{_KGO}usedTool>'),
        keys AS (SELECT subj,
                        unnest(['<{_KGO}role>', '<{_KGO}flagged>',
                                '<{_KGO}text>']) AS pred
                 FROM toolturns)
        SELECT t.subj, t.pred, t.obj
        FROM tt t LEFT JOIN keys k
          ON t.subj = k.subj AND t.pred = k.pred
        WHERE k.subj IS NULL
        UNION ALL
        SELECT subj, '<{_KGO}role>' AS pred, '"tool_user"' AS obj
        FROM toolturns
        UNION ALL
        SELECT subj, '<{_KGO}flagged>', '"true"' FROM toolturns
    """
    # FIM replay: identical md5-seeded cut-point arithmetic
    oracles["text_fim_split"] = """
        WITH h AS (
          SELECT doc_id, text, LENGTH(text) AS n,
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                         || 'fim'), 1, 8) AS BIGINT)
                   AS h1,
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                         || 'fim'), 9, 8) AS BIGINT)
                   AS h2
          FROM documents),
        c AS (
          SELECT *, CASE WHEN n >= 8
                         THEN CAST(1 + h1 % (n - 2) AS INTEGER) END
                      AS cut1
          FROM h),
        c2 AS (
          SELECT *, CASE WHEN n >= 8
                         THEN CAST(cut1 + 1 + h2 % (n - cut1 - 1)
                                   AS INTEGER) END AS cut2
          FROM c)
        SELECT doc_id,
               CASE WHEN n >= 8
                    THEN '<PRE>' || substr(text, 1, cut1)
                      || '<SUF>' || substr(text, cut2 + 1, n - cut2)
                      || '<MID>' || substr(text, cut1 + 1, cut2 - cut1)
                    ELSE text END AS fim_text,
               n >= 8 AS fim, cut1, cut2
        FROM c2
    """
    # KMV replay: same md5 fractions, same k minima, same estimator —
    # the sketch estimate is deterministic, so it oracle-checks exactly
    # (16^15 = 1152921504606846976; 60 bits, exact in long and double)
    oracles["sketch_kmv_distinct"] = f"""
        WITH tr AS ({TRANSCRIPTS_SQL}),
        tt AS (SELECT DISTINCT * FROM ({_TURN_TRIPLES_UNION})),
        h AS (SELECT DISTINCT pred,
                     CAST('0x' || substr(md5(obj), 1, 15) AS BIGINT)
                       / 1152921504606846976.0 AS f
              FROM tt),
        r AS (SELECT pred, f,
                     ROW_NUMBER() OVER (PARTITION BY pred ORDER BY f)
                       AS rn
              FROM h),
        m AS (SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_minima,
                     MAX(f) AS f_k
              FROM r WHERE rn <= 64 GROUP BY pred)
        SELECT pred, n_minima, f_k,
               CASE WHEN n_minima < 64 THEN CAST(n_minima AS DOUBLE)
                    ELSE 63.0 / f_k END AS estimate
        FROM m
    """
    # the streaming KMV fold is bit-identical to one-shot KMV
    oracles["sketch_kmv_incremental"] = oracles["sketch_kmv_distinct"]
    # MG-pruned exact heavy hitters == the plain HAVING-threshold
    # answer (candidate superset + exact verify pass)
    oracles["sketch_heavy_hitters"] = f"""
        WITH tr AS ({TRANSCRIPTS_SQL}),
        tt AS (SELECT DISTINCT * FROM ({_TURN_TRIPLES_UNION})),
        c AS (SELECT pred, obj, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM tt GROUP BY pred, obj),
        t AS (SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_group
              FROM tt GROUP BY pred)
        SELECT c.pred, c.obj, c.cnt, t.n_group
        FROM c JOIN t USING (pred)
        WHERE c.cnt * 65 > t.n_group
    """
    # the streamed MG fold's candidate superset + exact verify equals
    # the same plain HAVING-threshold answer
    oracles["sketch_mg_incremental"] = oracles["sketch_heavy_hitters"]
    # funnel replay: the greedy-earliest chain as correlated MIN CTEs
    # — each step the first event strictly after the previous step
    oracles["events_funnel"] = """
        WITH s1 AS (SELECT user_id, MIN(ts) AS ts_1 FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
        s2 AS (SELECT e.user_id, MIN(e.ts) AS ts_2
               FROM events e JOIN s1 USING (user_id)
               WHERE e.event_type = 'click' AND e.ts > s1.ts_1
               GROUP BY e.user_id),
        s3 AS (SELECT e.user_id, MIN(e.ts) AS ts_3
               FROM events e JOIN s2 USING (user_id)
               WHERE e.event_type = 'signup' AND e.ts > s2.ts_2
               GROUP BY e.user_id),
        s4 AS (SELECT e.user_id, MIN(e.ts) AS ts_4
               FROM events e JOIN s3 USING (user_id)
               WHERE e.event_type = 'purchase' AND e.ts > s3.ts_3
               GROUP BY e.user_id)
        SELECT s1.user_id, ts_1, ts_2, ts_3, ts_4,
               CAST(1 + CASE WHEN ts_2 IS NOT NULL THEN 1 ELSE 0 END
                      + CASE WHEN ts_3 IS NOT NULL THEN 1 ELSE 0 END
                      + CASE WHEN ts_4 IS NOT NULL THEN 1 ELSE 0 END
                    AS INTEGER) AS completed
        FROM s1 LEFT JOIN s2 USING (user_id)
                LEFT JOIN s3 USING (user_id)
                LEFT JOIN s4 USING (user_id)
    """
    # JSON-census replay: DuckDB json_keys + json_type over the same
    # blob union, types mapped to the same json vocabulary
    oracles["events_json_schema"] = """
        WITH blobs AS (
          SELECT props AS j FROM events
          UNION ALL
          SELECT '{"et": "' || event_type || '", "val": '
                   || CAST(value AS VARCHAR) || '}'
          FROM events),
        k AS (SELECT j, unnest(json_keys(j)) AS path FROM blobs
              WHERE json_valid(j)
                AND json_type(j) = 'OBJECT'),
        t AS (SELECT path,
                     CASE json_type(j, '$.' || path)
                       WHEN 'UBIGINT' THEN 'integer'
                       WHEN 'BIGINT' THEN 'integer'
                       WHEN 'DOUBLE' THEN 'number'
                       WHEN 'VARCHAR' THEN 'string'
                       WHEN 'BOOLEAN' THEN 'boolean'
                       WHEN 'NULL' THEN 'null'
                       WHEN 'OBJECT' THEN 'object'
                       WHEN 'ARRAY' THEN 'array'
                       ELSE 'other' END AS json_type
              FROM k),
        total AS (SELECT COUNT(*) AS tot FROM blobs
                  WHERE json_valid(j) AND json_type(j) = 'OBJECT')
        SELECT path, json_type, CAST(COUNT(*) AS BIGINT) AS n,
               COUNT(*) / (SELECT CAST(tot AS DOUBLE) FROM total)
                 AS frac
        FROM t GROUP BY path, json_type
    """
    # journey-transition replay: same (ts, event) total order, same
    # single division of exact counts
    oracles["events_transitions"] = """
        WITH p AS (SELECT event_type AS src,
                          LEAD(event_type) OVER
                            (PARTITION BY user_id
                             ORDER BY ts, event_type) AS dst
                   FROM events),
        c AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM p WHERE dst IS NOT NULL GROUP BY src, dst),
        t AS (SELECT src, CAST(SUM(cnt) AS BIGINT) AS tot
              FROM c GROUP BY src)
        SELECT c.src, c.dst, c.cnt, c.cnt / t.tot AS prob
        FROM c JOIN t USING (src)
    """
    # cohort replay: both engines date_trunc to ISO Monday weeks and
    # the day difference is an exact multiple of 7
    oracles["events_retention"] = """
        WITH f AS (SELECT user_id, MIN(ts) AS fts
                   FROM events GROUP BY user_id),
        a AS (SELECT e.user_id AS u,
                     CAST(date_trunc('week', f.fts) AS DATE)
                       AS cohort_week,
                     CAST(date_trunc('week', e.ts) AS DATE) AS aw
              FROM events e JOIN f USING (user_id))
        SELECT cohort_week,
               CAST((aw - cohort_week) / 7 AS INTEGER) AS week_offset,
               CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users
        FROM a GROUP BY cohort_week, week_offset
    """
    # incremental-profile replay: counts + KMV distinct only (the
    # streamed top value carries MG bounds, not exact counts — tested
    # in tests/test_streaming.py, not oracle-gated)
    oracles["stats_profile_incremental"] = """
        WITH m AS (
          SELECT 'doc_id' AS c, CAST(doc_id AS VARCHAR) AS v
          FROM documents
          UNION ALL SELECT 'text', text FROM documents
          UNION ALL SELECT 'lang', lang FROM documents
          UNION ALL SELECT 'source', source FROM documents
          UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR)
          FROM documents),
        counts AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_rows,
                          CAST(SUM(CASE WHEN v IS NULL THEN 1
                                        ELSE 0 END) AS BIGINT)
                            AS n_nulls
                   FROM m GROUP BY c),
        h AS (SELECT DISTINCT c,
                     CAST('0x' || substr(md5(v), 1, 15) AS BIGINT)
                       / 1152921504606846976.0 AS f
              FROM m WHERE v IS NOT NULL),
        r AS (SELECT c, f, ROW_NUMBER() OVER
                             (PARTITION BY c ORDER BY f) AS rn
              FROM h),
        d AS (SELECT c, COUNT(*) AS n_minima, MAX(f) AS f_k
              FROM r WHERE rn <= 64 GROUP BY c)
        SELECT counts.c AS "column", n_rows, n_nulls,
               CASE WHEN d.n_minima < 64
                    THEN CAST(d.n_minima AS DOUBLE)
                    ELSE 63.0 / d.f_k END AS distinct_est
        FROM counts LEFT JOIN d ON counts.c = d.c
    """
    # HAVING-aggregate replay: DuckDB evaluates the aggregate HAVING
    # natively; turn triples are distinct per (turn, tool), so the
    # relational twin needs no explicit DISTINCT on the count rows
    oracles["sparql_kg_having_agg"] = f"""
        WITH tr AS ({TRANSCRIPTS_SQL})
        SELECT 'http://kg.example/conv/' || conv_id AS conv,
               CAST(COUNT(*) AS BIGINT) AS n_tool_turns
        FROM tr WHERE tool IS NOT NULL
        GROUP BY conv_id
        HAVING COUNT(DISTINCT tool) > 1
    """
    # computed-GROUP-BY replay: same floor/length arithmetic; the
    # grouping key surfaces as a double lexical in both engines, and
    # AVG over integer-valued doubles is order-independent (exact
    # integer sums below 2^53)
    oracles["sparql_kg_group_expr"] = f"""
        WITH tr AS ({TRANSCRIPTS_SQL})
        SELECT CAST(FLOOR(length(text) / 10.0) AS VARCHAR) AS lenb,
               CAST(COUNT(*) AS BIGINT) AS n_turns,
               AVG(CAST(length(text) AS DOUBLE)) AS avg_len
        FROM tr GROUP BY 1
    """
    # table-profile replay: same melt (CAST AS VARCHAR per column),
    # same KMV k=64 estimate, same MG threshold (cnt*65 > N) with the
    # same (cnt DESC, v) top-1 tie-break
    oracles["stats_table_profile"] = """
        WITH m AS (
          SELECT 'doc_id' AS c, CAST(doc_id AS VARCHAR) AS v
          FROM documents
          UNION ALL SELECT 'text', text FROM documents
          UNION ALL SELECT 'lang', lang FROM documents
          UNION ALL SELECT 'source', source FROM documents
          UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR)
          FROM documents),
        counts AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_rows,
                          CAST(SUM(CASE WHEN v IS NULL THEN 1
                                        ELSE 0 END) AS BIGINT)
                            AS n_nulls
                   FROM m GROUP BY c),
        h AS (SELECT DISTINCT c,
                     CAST('0x' || substr(md5(v), 1, 15) AS BIGINT)
                       / 1152921504606846976.0 AS f
              FROM m WHERE v IS NOT NULL),
        r AS (SELECT c, f, ROW_NUMBER() OVER
                             (PARTITION BY c ORDER BY f) AS rn
              FROM h),
        d AS (SELECT c, COUNT(*) AS n_minima, MAX(f) AS f_k
              FROM r WHERE rn <= 64 GROUP BY c),
        cnts AS (SELECT c, v, CAST(COUNT(*) AS BIGINT) AS cnt
                 FROM m WHERE v IS NOT NULL GROUP BY c, v),
        tot AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n
                FROM m WHERE v IS NOT NULL GROUP BY c),
        hh AS (SELECT cnts.c, v, cnt
               FROM cnts JOIN tot USING (c) WHERE cnt * 65 > tot.n),
        top AS (SELECT c, v AS top_value, cnt AS top_cnt
                FROM (SELECT c, v, cnt, ROW_NUMBER() OVER
                        (PARTITION BY c ORDER BY cnt DESC, v) AS rk
                      FROM hh) WHERE rk = 1)
        SELECT counts.c AS "column", n_rows, n_nulls,
               CASE WHEN d.n_minima < 64
                    THEN CAST(d.n_minima AS DOUBLE)
                    ELSE 63.0 / d.f_k END AS distinct_est,
               top_value, top_cnt
        FROM counts LEFT JOIN d ON counts.c = d.c
                    LEFT JOIN top ON counts.c = top.c
    """
    # SSSP replay: the turn graph is a DAG (next chains + tool
    # leaves), so a hop-bounded recursive CTE enumerates each node's
    # unique path and MIN(d) is the same <=12-edge-path optimum the
    # 12 Bellman-Ford rounds compute
    oracles["graph_shortest_paths"] = f"""
        WITH RECURSIVE {_TURN_DAG_CTES},
        e AS (SELECT src, dst,
                     CASE WHEN dst LIKE '<http://kg.example/tool/%'
                          THEN 3 ELSE 1 END AS w
              FROM e0),
        s AS (SELECT t AS node FROM iri
              WHERE turn_idx = 0 AND conv_id LIKE '%0'),
        walk(node, d, hop) AS (
            SELECT node, 0, 0 FROM s
            UNION ALL
            SELECT e.dst, walk.d + e.w, walk.hop + 1
            FROM walk JOIN e ON e.src = walk.node
            WHERE e.dst IS NOT NULL AND walk.hop < 12)
        SELECT node, CAST(MIN(d) AS BIGINT) AS dist
        FROM walk GROUP BY node
    """
    # effective-diameter replay: same per-radius KMV estimates,
    # same neighborhood-function sums and 0.9 interpolation
    oracles["graph_eff_diameter"] = f"""
        WITH RECURSIVE {_ball_estimate_ctes(4)},
        nf AS (SELECT r, SUM(est) AS nr FROM est GROUP BY r),
        mx AS (SELECT MAX(nr) AS m FROM nf),
        dd AS (SELECT r, nr, LAG(nr) OVER (ORDER BY r) AS pe FROM nf),
        hit AS (SELECT r, nr, pe FROM dd, mx
                WHERE nr >= 0.9 * m ORDER BY r LIMIT 1)
        SELECT CASE WHEN r = 0 THEN 0.0
                    ELSE ROUND(r - 1 + (0.9 * (SELECT m FROM mx) - pe)
                                 / (nr - pe), 6) END AS eff_diameter,
               ROUND((SELECT m FROM mx), 6) AS total_pairs
        FROM hit
    """
    # harmonic replay: per-radius balls from the same hop-tracked
    # CTE, identical KMV estimate per radius, LAG-differenced sum
    oracles["graph_harmonic"] = f"""
        WITH RECURSIVE {_ball_estimate_ctes(4)},
        d AS (SELECT root, r, est,
                     LAG(est) OVER (PARTITION BY root ORDER BY r)
                       AS pe
              FROM est)
        SELECT root AS node,
               ROUND(SUM((est - pe) / r), 6) AS harmonic
        FROM d WHERE r >= 1
        GROUP BY root
    """
    # reach-ball replay: enumerate each node's <=6-hop ball (unique
    # paths on the turn DAG), then the same md5 k-minima arithmetic —
    # equal to the engine's 6-round fold by KMV mergeability
    oracles["graph_reach_synopsis"] = f"""
        WITH RECURSIVE {_turn_ball_ctes(6)},
        h AS (SELECT DISTINCT root,
                     CAST('0x' || substr(md5(node), 1, 15) AS BIGINT)
                       / 1152921504606846976.0 AS f
              FROM ball),
        r AS (SELECT root, f,
                     ROW_NUMBER() OVER (PARTITION BY root ORDER BY f)
                       AS rn
              FROM h),
        m AS (SELECT root, CAST(COUNT(*) AS BIGINT) AS n_minima,
                     MAX(f) AS f_k
              FROM r WHERE rn <= 8 GROUP BY root)
        SELECT root AS node, n_minima, f_k,
               CASE WHEN n_minima < 8 THEN CAST(n_minima AS DOUBLE)
                    ELSE 7.0 / f_k END AS est
        FROM m
    """
    # KMV set-operation replay: same md5 fractions, same per-side
    # k-minima, same union-top-k + membership flags, same cast points
    # (SUM→BIGINT to dodge DuckDB's HUGEINT)
    oracles["sketch_kmv_setops"] = f"""
        WITH tr AS ({TRANSCRIPTS_SQL}),
        ea AS (SELECT DISTINCT
                 CAST('0x' || substr(md5(
                     regexp_extract(text, 'Entity_[0-9]+', 0)), 1, 15)
                   AS BIGINT) / 1152921504606846976.0 AS f
               FROM tr WHERE role = 'user'
                 AND regexp_matches(text, 'Entity_[0-9]+')),
        eb AS (SELECT DISTINCT
                 CAST('0x' || substr(md5(
                     regexp_extract(text, 'Entity_[0-9]+', 0)), 1, 15)
                   AS BIGINT) / 1152921504606846976.0 AS f
               FROM tr WHERE role = 'assistant'
                 AND regexp_matches(text, 'Entity_[0-9]+')),
        ma AS (SELECT f FROM (SELECT f, ROW_NUMBER() OVER (ORDER BY f)
                                AS rn FROM ea) WHERE rn <= 64),
        mb AS (SELECT f FROM (SELECT f, ROW_NUMBER() OVER (ORDER BY f)
                                AS rn FROM eb) WHERE rn <= 64),
        u AS (SELECT DISTINCT f FROM
                (SELECT f FROM ma UNION ALL SELECT f FROM mb)),
        uk AS (SELECT f FROM (SELECT f, ROW_NUMBER() OVER (ORDER BY f)
                                AS rn FROM u) WHERE rn <= 64),
        agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_union_minima,
                       MAX(f) AS f_k,
                       CAST(SUM(CASE WHEN f IN (SELECT f FROM ma)
                                      AND f IN (SELECT f FROM mb)
                                     THEN 1 ELSE 0 END) AS BIGINT)
                         AS k_inter
                FROM uk)
        SELECT n_union_minima, f_k,
               CASE WHEN n_union_minima < 64
                    THEN CAST(n_union_minima AS DOUBLE)
                    ELSE 63.0 / f_k END AS est_union,
               k_inter,
               k_inter / n_union_minima AS jaccard,
               CASE WHEN n_union_minima < 64
                    THEN CAST(k_inter AS DOUBLE)
                    ELSE (k_inter / n_union_minima) *
                         (63.0 / f_k) END AS est_inter
        FROM agg
    """

    # Turtle text replay: the writer is deterministic (sorted objects,
    # rdf:type-first sorted predicates, safe-local prefix compaction),
    # so the oracle reconstructs the IDENTICAL block strings
    def _ttl_compact(col: str) -> str:
        arms = []
        for p, ns in sorted(
                {"kg": _KGO, "conv": "http://kg.example/conv/",
                 "tool": "http://kg.example/tool/"}.items(),
                key=lambda kv: (-len(kv[1]), kv[0])):
            pat = "^<" + ns.replace(".", "\\.") + \
                "([A-Za-z_][A-Za-z0-9_-]*)>$"
            arms.append(
                f"WHEN regexp_matches({col}, '{pat}') THEN '{p}:' || "
                f"regexp_extract({col}, '{pat}', 1)")
        return "CASE " + " ".join(arms) + f" ELSE {col} END"

    # SPARQL-star replay: every tool turn carries exactly one
    # annotation and one role triple, so the star join is one row per
    # tool turn in lexical forms
    oracles["sparql_kg_star"] = f"""
        WITH tr AS ({TRANSCRIPTS_SQL})
        SELECT 'http://kg.example/conv/' || conv_id || '/turn/'
                 || CAST(turn_idx AS VARCHAR) AS turn,
               'http://kg.example/tool/' || tool AS tool,
               'http://kg.example/conv/' || conv_id AS conv,
               role
        FROM tr WHERE tool IS NOT NULL
    """
    # RDF-star replay: the quoted-term string is deterministic
    # assembly; the Spark side additionally round-trips through
    # N-Quads-star text, which is the identity on these quads
    oracles["kg_rdfstar_annotate"] = f"""
        WITH tr AS ({TRANSCRIPTS_SQL}),
        tt AS (SELECT DISTINCT * FROM ({_TURN_TRIPLES_UNION}))
        SELECT '<< ' || u.subj || ' ' || u.pred || ' ' || u.obj
                 || ' >>' AS subj,
               '<{_KGO}inConv>' AS pred,
               p.obj AS obj
        FROM tt u JOIN tt p ON u.subj = p.subj
        WHERE u.pred = '<{_KGO}usedTool>'
          AND p.pred = '<{_KGO}partOf>'
    """
    # Allen ladder replay: the CASE order is normative (module
    # docstring kgloom/ops/temporal.py:allen_relation)
    oracles["kg_allen_relations"] = """
        WITH iv AS (SELECT user_id, event_type,
                           MIN(ts) AS s, MAX(ts) AS e
                    FROM events GROUP BY 1, 2),
        p AS (SELECT a.event_type AS id_a, b.event_type AS id_b,
                CASE WHEN a.s = b.s AND a.e = b.e THEN 'equals'
                     WHEN a.s = b.s AND a.e < b.e THEN 'starts'
                     WHEN a.s = b.s THEN 'started_by'
                     WHEN a.e = b.e AND a.s > b.s THEN 'finishes'
                     WHEN a.e = b.e THEN 'finished_by'
                     WHEN a.e = b.s THEN 'meets'
                     WHEN b.e = a.s THEN 'met_by'
                     WHEN a.e < b.s THEN 'before'
                     WHEN b.e < a.s THEN 'after'
                     WHEN a.s > b.s AND a.e < b.e THEN 'during'
                     WHEN a.s < b.s AND a.e > b.e THEN 'contains'
                     WHEN a.s < b.s THEN 'overlaps'
                     ELSE 'overlapped_by' END AS relation
              FROM iv a JOIN iv b
                ON a.user_id = b.user_id
               AND a.event_type < b.event_type)
        SELECT id_a, id_b, relation, COUNT(*) AS n_pairs
        FROM p GROUP BY 1, 2, 3
    """
    # flat JSON-LD replay: same value-object rendering and
    # @id/"pred":[...] assembly, string_agg ORDER BY for both sorts
    # (turn triples carry no rdf:type, so the @type branch is exact
    # here via the pytest term-kind suite, not this oracle)
    oracles["kg_jsonld_render"] = f"""
        WITH tr AS ({TRANSCRIPTS_SQL}),
        tt AS (SELECT DISTINCT * FROM ({_TURN_TRIPLES_UNION})),
        c AS (SELECT subj,
                     substr(pred, 2, len(pred) - 2) AS k,
                     CASE WHEN obj LIKE '<%'
                          THEN '{{"@id":"' || substr(obj, 2, len(obj) - 2)
                                 || '"}}'
                          ELSE '{{"@value":' || obj || '}}' END AS v
              FROM tt),
        po AS (SELECT subj, k,
                      string_agg(v, ',' ORDER BY v) AS vs
               FROM c GROUP BY subj, k)
        SELECT subj,
               '{{"@id":"' || substr(subj, 2, len(subj) - 2) || '",' ||
               string_agg('"' || k || '":[' || vs || ']', ','
                          ORDER BY k) || '}}' AS jsonld
        FROM po GROUP BY subj
    """
    oracles["kg_turtle_render"] = f"""
        WITH tr AS ({TRANSCRIPTS_SQL}),
        tt AS (SELECT DISTINCT * FROM ({_TURN_TRIPLES_UNION})),
        c AS (SELECT {_ttl_compact('subj')} AS s,
                     CASE WHEN pred =
               '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'
                          THEN 'a' ELSE {_ttl_compact('pred')} END AS p,
                     {_ttl_compact('obj')} AS o
              FROM tt),
        po AS (SELECT s, p,
                      string_agg(o, ' , ' ORDER BY o) AS objs,
                      CASE WHEN p = 'a' THEN 0 ELSE 1 END AS pk
               FROM (SELECT DISTINCT * FROM c) GROUP BY s, p)
        SELECT s AS subj,
               s || ' ' ||
               string_agg(p || ' ' || objs, ' ; ' ORDER BY pk, p)
                 || ' .' AS ttl
        FROM po GROUP BY s
    """
    # KLL-lite replay: same md5 content salt, same ntile compaction,
    # same cumulative-weight merge arithmetic (association and cast
    # points mirrored), same ceil-rank extraction — the sketched
    # estimate is deterministic, so it oracle-checks exactly.
    # Integer-exact centroids (cnt, vsum) make the sums
    # order-independent; doubles appear only in deterministic
    # single-step divisions.
    oracles["sketch_kll_quantiles"] = """
        WITH s AS (
          SELECT lang, CAST(n_chars AS BIGINT) AS v,
                 CAST('0x' || substr(md5(CAST(n_chars AS VARCHAR)), 1, 15)
                      AS BIGINT) % 4 AS salt
          FROM documents),
        b AS (
          SELECT lang, salt, v,
                 ntile(32) OVER (PARTITION BY lang, salt ORDER BY v)
                   AS bkt
          FROM s),
        cent AS (
          SELECT lang, salt, bkt,
                 CAST(COUNT(*) AS BIGINT) AS cnt,
                 CAST(SUM(v) AS BIGINT) AS vsum,
                 MIN(v) AS lo, MAX(v) AS hi
          FROM b GROUP BY lang, salt, bkt),
        o AS (
          SELECT lang, cnt, vsum, lo, hi,
                 COALESCE(SUM(cnt) OVER (
                   PARTITION BY lang
                   ORDER BY CAST(vsum AS DOUBLE) / cnt, lo, hi, cnt, vsum
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cumx,
                 SUM(cnt) OVER (PARTITION BY lang) AS total
          FROM cent),
        g AS (
          SELECT lang, cnt, vsum, lo, hi,
                 LEAST(31, CAST(FLOOR(((cumx + cnt / 2.0) * 32) / total)
                                AS BIGINT)) AS mb
          FROM o),
        mg AS (
          SELECT lang, mb,
                 CAST(SUM(cnt) AS BIGINT) AS cnt,
                 CAST(SUM(vsum) AS BIGINT) AS vsum
          FROM g GROUP BY lang, mb),
        mm AS (
          SELECT lang, CAST(vsum AS DOUBLE) / cnt AS avg,
                 CAST(SUM(cnt) OVER (
                   PARTITION BY lang ORDER BY mb
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum,
                 CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
          FROM mg),
        qv(q) AS (VALUES (0.1), (0.5), (0.9), (0.99))
        SELECT lang, CAST(q AS DOUBLE) AS q,
               CAST(MIN(n) AS BIGINT) AS n,
               arg_min(avg, cum) AS est
        FROM mm JOIN qv ON mm.cum >= CEIL(CAST(q AS DOUBLE) * mm.n)
        GROUP BY lang, q
    """
    # exact-quantile replay: quantile_cont == Spark percentile (both
    # interpolate linearly at rank q*(N-1); dyadic q keeps it bit-exact)
    oracles["stats_doc_quantiles"] = """
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               quantile_cont(n_chars, 0.25) AS p25,
               quantile_cont(n_chars, 0.5)  AS p50,
               quantile_cont(n_chars, 0.75) AS p75
        FROM documents GROUP BY lang
    """
    # streaming-gate replay: same MinHash bands; dropped iff a
    # smaller string id shares a cell, via_history iff that id is in
    # an earlier arrival batch (the id's batch prefix)
    oracles["dedup_stream_gate"] = """
        WITH d AS (SELECT CAST(doc_id % 3 AS VARCHAR) || '-'
                            || lpad(CAST(doc_id AS VARCHAR), 6, '0')
                            AS doc_id,
                          text
                   FROM documents),
        toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                 FROM d),
        sh AS (SELECT DISTINCT doc_id, shingle FROM (
                 SELECT doc_id,
                        unnest(list_transform(
                          generate_series(1, len(t) - 2),
                          i -> array_to_string(t[i:i+2], ' ')))
                          AS shingle
                 FROM toks WHERE len(t) >= 3) u),
        sig AS (SELECT doc_id,
                  MIN(substr(md5('0|' || shingle), 1, 16)) AS h0,
                  MIN(substr(md5('1|' || shingle), 1, 16)) AS h1,
                  MIN(substr(md5('2|' || shingle), 1, 16)) AS h2,
                  MIN(substr(md5('3|' || shingle), 1, 16)) AS h3,
                  MIN(substr(md5('4|' || shingle), 1, 16)) AS h4,
                  MIN(substr(md5('5|' || shingle), 1, 16)) AS h5,
                  MIN(substr(md5('6|' || shingle), 1, 16)) AS h6,
                  MIN(substr(md5('7|' || shingle), 1, 16)) AS h7
                FROM sh GROUP BY doc_id),
        bands AS (
          SELECT doc_id, 0 AS band, h0 || '|' || h1 AS band_key
          FROM sig
          UNION ALL SELECT doc_id, 1, h2 || '|' || h3 FROM sig
          UNION ALL SELECT doc_id, 2, h4 || '|' || h5 FROM sig
          UNION ALL SELECT doc_id, 3, h6 || '|' || h7 FROM sig),
        dd AS (SELECT DISTINCT b.doc_id
               FROM bands a JOIN bands b USING (band, band_key)
               WHERE a.doc_id < b.doc_id),
        hh AS (SELECT DISTINCT b.doc_id
               FROM bands a JOIN bands b USING (band, band_key)
               WHERE substr(a.doc_id, 1, 1) < substr(b.doc_id, 1, 1))
        SELECT d.doc_id,
               dd.doc_id IS NOT NULL AS is_dup,
               hh.doc_id IS NOT NULL AS via_history
        FROM d LEFT JOIN dd ON d.doc_id = dd.doc_id
               LEFT JOIN hh ON d.doc_id = hh.doc_id
    """
    # RDF merge replay: per-graph bnode tags then set union
    oracles["kg_rdf_merge"] = f"""
        SELECT DISTINCT * FROM (
          SELECT '_:a.d' || CAST(doc_id AS VARCHAR) AS subj,
                 '<{_KGO}lang>' AS pred,
                 '"' || lang || '"' AS obj
          FROM documents
          UNION ALL
          SELECT '_:b.d' || CAST(doc_id AS VARCHAR),
                 '<{_KGO}source>',
                 '"' || source || '"'
          FROM documents)
    """
    # keep-best resolution: the clustering replay nested as a CTE,
    # then the same (score DESC NULLS LAST, doc_id) window cut
    oracles["dedup_keep_best"] = f"""
        WITH clus AS ({oracles["dedup_clusters"]}),
        s AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     CAST(n_chars AS BIGINT) AS score
              FROM documents)
        SELECT doc_id, cluster_id, score, n_members FROM (
          SELECT c.doc_id, c.cluster_id, s.score,
                 ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                   ORDER BY s.score DESC NULLS LAST, c.doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY c.cluster_id)
                   AS n_members
          FROM clus c LEFT JOIN s USING (doc_id))
        WHERE rn = 1
    """
    return oracles
