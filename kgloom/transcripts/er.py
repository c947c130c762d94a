"""Entity resolution: two-stage blocking + connected components.

North-star requirement: "subjects are canonicalized via a two-stage
blocking + connected-components (GraphFrames-style iterative hash-join)
entity-resolution pass".

Stage 1 blocking: exact normalized key (digits of the surface form) —
cheap, high recall on the generator's variant grammar.
Stage 2 blocking: coarser key (digit multiset signature) + vectorized
link-score filter inside each block — catches near-variants stage 1
splits (demonstrated with score threshold; at 100 TB this is where a
learned matcher goes).

Connected components over the surface graph come from the size-gated
:func:`kgloom.ops.graph.connected_components` (driver union-find, or
iterative hash-join label propagation; the blocking graphs are
near-stars, so few rounds suffice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ops.graph import connected_components, union_find
from .mentions import link_score


def distinct_surfaces(mentions: DataFrame) -> DataFrame:
    """The node set: one aggregation over the mention stream, then
    localCheckpoint so every downstream consumer (edges, hubs, the
    canonical join) reuses the small result instead of re-deduplicating
    the full stream."""
    return (mentions.select("surface", "norm_key").distinct()
            .localCheckpoint())


def build_edges(mentions: DataFrame, score_threshold: float = 0.5,
                surfaces: DataFrame | None = None) -> DataFrame:
    """Distinct mention surfaces → undirected similarity edges.

    Works on DISTINCT surfaces only (the node set), never on mention
    occurrences — at 10^12 turns the distinct-surface set is orders of
    magnitude smaller than the mention stream.
    """
    if surfaces is None:
        surfaces = distinct_surfaces(mentions)
    surfaces = (surfaces
                .withColumn("score",
                            link_score(F.col("surface"), F.col("norm_key")))
                .where(F.col("score") >= score_threshold))

    # stage 1: exact normalized-key block — connect every surface in a
    # block to the block's minimal surface (star topology: |block|-1
    # edges instead of |block|^2 pairwise edges)
    stage1_hub = surfaces.groupBy("norm_key").agg(
        F.min("surface").alias("hub"))
    stage1 = (surfaces.join(stage1_hub, "norm_key")
              .where(F.col("surface") != F.col("hub"))
              .select(F.col("surface").alias("src"), F.col("hub").alias("dst")))

    # stage 2: coarser block (sorted digit multiset) generates CANDIDATE
    # pairs only; a pairwise verification filter decides which become
    # edges (here: exact digit-sequence agreement — anagram keys like
    # 12/21 share a block but must NOT merge).  This is the
    # candidate-generation + verify structure a learned matcher slots
    # into at scale.
    coarse = surfaces.withColumn(
        "coarse_key", F.concat_ws("", F.array_sort(
            F.split(F.col("norm_key"), ""))))
    stage2_hub = coarse.groupBy("coarse_key").agg(
        F.min("surface").alias("hub"),
        F.min_by("norm_key", "surface").alias("hub_key"))
    stage2 = (coarse.join(stage2_hub, "coarse_key")
              .where((F.col("surface") != F.col("hub"))
                     & (F.col("norm_key") == F.col("hub_key")))  # verify
              .select(F.col("surface").alias("src"), F.col("hub").alias("dst")))

    return stage1.unionByName(stage2).distinct()


#: below this many distinct surfaces the whole ER graph phase (scoring,
#: two-stage blocking, union-find) runs driver-side on the collected
#: node set — ONE distributed job (the distinct aggregation, which is
#: the only part proportional to the mention stream) instead of ~8
#: small shuffle rounds whose fixed job latency dominates at any core
#: count and caps scaling efficiency.  2M surfaces ≈ 100 MB on the
#: driver; above the gate the distributed blocking + iterative-join CC
#: path takes over unchanged.
DRIVER_ER_MAX_SURFACES = 2_000_000


def _driver_link_score(surface: str, key: str) -> float:
    """Python twin of :func:`kgloom.transcripts.mentions.link_score`
    (kept in lockstep; both are covered by the agreement test)."""
    if surface is None or key is None:
        return 0.0
    import re as _re
    if _re.sub(r"[^0-9]", "", surface.lower()) != key:
        return 0.0
    if surface.startswith("Entity_"):
        return 1.0
    if surface.startswith("entity "):
        return 0.95
    if surface.startswith("E-"):
        return 0.9
    return 0.85


def _driver_canonical(rows: list[tuple[str, str]],
                      score_threshold: float) -> list[tuple[str, str]]:
    """Driver-side twin of build_edges + connected_components over the
    collected (surface, norm_key) node set — same blocking stages, same
    min-label component ids."""
    from collections import defaultdict

    scored = [(s, k) for s, k in rows
              if _driver_link_score(s, k) >= score_threshold]
    edges: list[tuple[str, str]] = []
    # stage 1: exact normalized-key block → star edges to the min surface
    blocks: dict[str, list[str]] = defaultdict(list)
    for s, k in scored:
        blocks[k].append(s)
    for ss in blocks.values():
        hub = min(ss)
        edges.extend((s, hub) for s in ss if s != hub)
    # stage 2: coarse (digit-multiset) candidate block + exact-key verify
    coarse: dict[str, list[tuple[str, str]]] = defaultdict(list)
    for s, k in scored:
        coarse["".join(sorted(k))].append((s, k))
    for items in coarse.values():
        hub, hub_key = min(items)
        edges.extend((s, hub) for s, k in items
                     if s != hub and k == hub_key)
    mapping = union_find(edges)
    return [(s, mapping.get(s, s)) for s, _ in rows]


def canonical_map(mentions: DataFrame, score_threshold: float = 0.5,
                  driver_max_surfaces: int = DRIVER_ER_MAX_SURFACES
                  ) -> DataFrame:
    """surface → canonical entity key for every distinct surface
    (including singletons that have no edges).  The mention stream is
    aggregated exactly once (distinct_surfaces); all graph work happens
    on the checkpointed node set — driver-side below the size gate,
    distributed blocking + iterative-join CC above it."""
    # checkpoint BEFORE the size probe so the distinct aggregation over
    # the mention stream runs exactly once: the gated limit().collect()
    # probe and (above the gate) the distributed blocking/CC path both
    # read this one materialization instead of recomputing the distinct
    surfaces = mentions.select("surface", "norm_key").distinct() \
        .localCheckpoint()
    if driver_max_surfaces > 0:
        # Arrow transfer both ways (same reasoning as the driver CC
        # path): at the 2M-surface gate a pickled Row list costs tens
        # of seconds that columnar batches don't
        import pandas as pd

        from ..ops.cache import ensure_arrow
        ensure_arrow(mentions.sparkSession)
        head = surfaces.limit(driver_max_surfaces + 1).toPandas()
        if len(head) <= driver_max_surfaces:
            spark = mentions.sparkSession
            pairs = _driver_canonical(
                list(zip(head["surface"], head["norm_key"])),
                score_threshold)
            out = pd.DataFrame(pairs, columns=["surface", "canonical"])
            return spark.createDataFrame(out) if pairs else \
                spark.createDataFrame([],
                                      "surface string, canonical string")
    edges = build_edges(mentions, score_threshold, surfaces=surfaces)
    components = connected_components(edges)
    return (surfaces.select("surface")
            .join(components.withColumnRenamed("node", "surface"),
                  "surface", "left")
            .select("surface",
                    F.coalesce(F.col("component"), F.col("surface"))
                    .alias("canonical")))
