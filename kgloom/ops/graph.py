"""Graph analytics over edge lists extracted from a constructed KG —
the post-construction measures (node importance, hub detection) a KG
pipeline reports on its output — and the connected-components pass
that entity resolution, near-dup clustering, closure and sameAs fusion
share.

PageRank is the classic iterative power-method: rank flows along
out-edges each round, damped, with dangling-node mass redistributed
uniformly (so total rank stays 1.0 and the result matches textbook
PageRank, not a leaky approximation).

100-TB design: each iteration is one shuffle (rank × edge join +
hash-aggregate on the destination) — the same shape GraphFrames/Pregel
produce; corpus scalars (node count, per-round dangling mass) are
1-row DataFrames broadcast-cross-joined into the update expression, so
NOTHING is collected to the driver; `localCheckpoint` truncates the
lineage each round (the iterative-plan blowup guard); the edge list
with out-degrees is computed once and persisted (tracked — release via
:func:`kgloom.ops.cache.unpersist_tracked`).

Connected components: iterative min-label propagation plus pointer
jumping over the bidirected graph — pure DataFrame joins (hash-join
per iteration), converging in O(log diameter) rounds, with
``localCheckpoint`` each round to cut lineage (the alternating-join
scheme GraphFrames' CC uses).  All shuffles are on the node-id key;
AQE right-sizes them at runtime.  Below a size gate the components
come from a driver-side union-find instead.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .cache import ensure_arrow, tracked_persist
from .iterate import fixpoint


def _edge_set(edges: DataFrame, src: str, dst: str, a: str, b: str,
              undirected: bool = True) -> DataFrame:
    """Distinct ``(a, b)`` edges of ``edges`` without self-loops, plus
    every reverse edge when ``undirected`` (a self-loop inflates its
    node's degree by 2 in either convention; null endpoints drop with
    it)."""
    e = edges.select(F.col(src).alias(a), F.col(dst).alias(b))
    if undirected:
        e = e.unionByName(e.select(F.col(b).alias(a), F.col(a).alias(b)))
    return e.where(F.col(a) != F.col(b)).distinct()


def _nodes(e: DataFrame, a: str, b: str) -> DataFrame:
    """(node): the distinct endpoints of an edge table."""
    return (e.select(F.col(a).alias("node"))
            .unionByName(e.select(F.col(b).alias("node")))
            .distinct())


def _out_edges(edges: DataFrame, src: str, dst: str):
    """(nodes, outdeg, ew) of the distinct directed non-null edge set —
    the node table, (src, out_deg), and the edges with their source's
    out-degree (src, dst, out_deg), all persisted: outdeg feeds the
    per-round dangling anti-join, and without persistence every round
    recomputes the full upstream edge pipeline."""
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
         .distinct())
    nodes = tracked_persist(_nodes(e, "src", "dst"))
    outdeg = tracked_persist(
        e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg")))
    return nodes, outdeg, tracked_persist(e.join(outdeg, "src"))


def pagerank(edges: DataFrame, damping: float = 0.85,
             iterations: int = 5, src: str = "src",
             dst: str = "dst") -> DataFrame:
    """(node, rank) after ``iterations`` rounds of damped power
    iteration over the distinct directed edges; ranks sum to 1.0.

    rank'(n) = (1-d)/N + d · (Σ_{m→n} rank(m)/outdeg(m) + dangling/N)

    where ``dangling`` is the rank mass sitting on nodes with no
    out-edges that round.
    """
    nodes, outdeg, ew = _out_edges(edges, src, dst)
    n_df = nodes.agg(F.count(F.lit(1)).cast("double").alias("n_nodes"))
    ranks = (nodes.crossJoin(F.broadcast(n_df))
             .select("node", (F.lit(1.0) / F.col("n_nodes")).alias("rank")))
    for _ in range(iterations):
        contrib = (ranks.join(ew, ranks["node"] == ew["src"])
                   .select(F.col("dst").alias("node"),
                           (F.col("rank") / F.col("out_deg")).alias("c"))
                   .groupBy("node")
                   .agg(F.sum("c").alias("contrib")))
        dangling = (ranks.join(outdeg, ranks["node"] == outdeg["src"],
                               "left_anti")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                         .alias("dangling")))
        ranks = (nodes
                 .join(contrib, "node", "left")
                 .crossJoin(F.broadcast(n_df))
                 .crossJoin(F.broadcast(dangling))
                 .select("node",
                         (F.lit((1.0 - damping)) / F.col("n_nodes")
                          + F.lit(damping)
                          * (F.coalesce(F.col("contrib"), F.lit(0.0))
                             + F.col("dangling") / F.col("n_nodes")))
                         .alias("rank")))
        # truncate the iterative lineage; without this, round i's plan
        # contains rounds 0..i-1 and optimization time grows superlinearly
        ranks = ranks.localCheckpoint()
    return ranks


def personalized_pagerank(edges: DataFrame, seeds: DataFrame,
                          damping: float = 0.85, iterations: int = 3,
                          src: str = "src", dst: str = "dst"
                          ) -> DataFrame:
    """(node, rank) after ``iterations`` rounds of random-walk-with-
    restart to the SEED set — the entity-relatedness ranker (how close
    is every node to this tool / this conversation / this entity
    cluster), the personalized counterpart of :func:`pagerank`:

    rank'(v) = (1-d)·s(v) + d · (Σ_{u→v} rank(u)/outdeg(u)
                                 + dangling·s(v))

    where ``s`` is uniform over the seed nodes (restart vector) and
    ``dangling`` is the rank mass on out-degree-0 nodes, which
    teleports back to the seeds.  ``seeds`` is a one-column DataFrame
    (any column name; seeds outside the graph are ignored) — a
    DataFrame rather than a list because at KG scale a seed set (all
    tool IRIs, one entity's sameAs cluster) is itself query output.
    Ranks sum to 1 over the graph.  Same per-round shuffle shape and
    lineage truncation as :func:`pagerank`."""
    nodes, outdeg, ew = _out_edges(edges, src, dst)
    seed_nodes = (seeds.select(F.col(seeds.columns[0]).alias("node"))
                  .distinct().join(nodes, "node"))
    k_df = seed_nodes.agg(
        F.count(F.lit(1)).cast("double").alias("n_seeds"))
    # restart vector s(v), persisted: referenced every round twice
    sv = tracked_persist(
        nodes.join(seed_nodes.withColumn("__is_seed", F.lit(1)),
                   "node", "left")
        .crossJoin(F.broadcast(k_df))
        .select("node",
                F.when(F.col("__is_seed").isNotNull(),
                       F.lit(1.0) / F.col("n_seeds"))
                .otherwise(F.lit(0.0)).alias("s")))
    # the dangling SET is static (out-degree-0 membership does not
    # change across rounds) — probe once against the persisted
    # tables; symmetrized graphs have none, which skips one
    # anti-join + scalar aggregate job per round
    has_dangling = (nodes.join(
        outdeg, nodes["node"] == outdeg["src"], "left_anti")
        .limit(1).count() > 0)

    ranks = sv.select("node", F.col("s").alias("rank"))
    for _ in range(iterations):
        # ORDERED sequential folds instead of F.sum: seed nodes
        # accumulate hundreds of in-contributions, and associative-
        # order float sums differ in the last ulp across engines —
        # sort by the contributing node and fold left-to-right (the
        # adamic_adar / bigram-LM determinism rule).  collect_list is
        # bounded by max in-degree per group; at extreme hub degrees
        # trade exact replay for F.sum.
        contrib = (ranks.join(ew, ranks["node"] == ew["src"])
                   .select(F.col("dst").alias("node"),
                           F.struct(
                               F.col("src").alias("s"),
                               (F.col("rank") / F.col("out_deg"))
                               .alias("c")).alias("sc"))
                   .groupBy("node")
                   .agg(F.aggregate(
                       F.sort_array(F.collect_list("sc")),
                       F.lit(0.0),
                       lambda acc, x: acc + x["c"]).alias("contrib")))
        stepped = sv.join(contrib, "node", "left")
        if has_dangling:
            dangling = (ranks.join(outdeg,
                                   ranks["node"] == outdeg["src"],
                                   "left_anti")
                        .agg(F.aggregate(
                            F.sort_array(F.collect_list(
                                F.struct(F.col("node").alias("n"),
                                         F.col("rank").alias("r")))),
                            F.lit(0.0),
                            lambda acc, x: acc + x["r"])
                            .alias("dangling")))
            stepped = stepped.crossJoin(F.broadcast(dangling))
            dmass = F.col("dangling")
        else:
            dmass = F.lit(0.0)
        ranks = (stepped
                 .select("node",
                         (F.lit(1.0 - damping) * F.col("s")
                          + F.lit(damping)
                          * (F.coalesce(F.col("contrib"), F.lit(0.0))
                             + dmass * F.col("s")))
                         .alias("rank")))
        ranks = ranks.localCheckpoint()
    return ranks


def kg_profile(triples: DataFrame) -> DataFrame:
    """Per-predicate KG profile — the shape report a construction
    pipeline logs next to its triple counts: for every predicate, the
    triple count, distinct subject/object counts, and the object-kind
    breakdown (IRI / literal / blank node, by rendered-term prefix).

    One hash aggregate keyed on ``pred`` (map-side partial aggregation;
    the two COUNT DISTINCTs expand to the standard two-phase distinct
    aggregate) — no joins, no Python, linear in the triple count."""
    obj = F.col("obj")
    return (triples.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("subj").alias("n_subjects"),
        F.countDistinct("obj").alias("n_objects"),
        F.sum(obj.startswith("<").cast("long")).alias("n_iri_obj"),
        F.sum(obj.startswith('"').cast("long")).alias("n_literal_obj"),
        F.sum(obj.startswith("_:").cast("long")).alias("n_bnode_obj")))


def label_propagation(edges: DataFrame, rounds: int = 3,
                      src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, community): SYNCHRONOUS label propagation over the
    undirected graph — community detection, the clustering coarser
    than connected components and cheaper than modularity methods.
    Fully deterministic and engine-exact: every node starts as its
    own label; each round every node adopts the label that the MOST
    neighbors currently carry, ties broken by the lexicographically
    smallest label.  Votes are integer counts and the tie-break is
    total, so there is no RNG and no float anywhere — the DuckDB twin
    (the same rounds unrolled) must agree exactly.  Synchronous
    updates can oscillate on bipartite structure, which a FIXED round
    count turns into a deterministic, replayable output rather than a
    convergence hazard.

    Per round: one join (labels onto the neighbor side) + one count
    aggregate + one per-node argmax window — two shuffles, both keyed
    by node; ``localCheckpoint`` truncates the iterative lineage."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    bi = tracked_persist(_edge_set(edges, src, dst, "a", "b"))
    nodes = tracked_persist(
        bi.select(F.col("a").alias("node")).distinct())
    labels = nodes.withColumn("community", F.col("node"))
    w = Window.partitionBy("node").orderBy(F.desc("c"), "community")
    for _ in range(rounds):
        votes = (bi.join(labels.withColumnRenamed("node", "b"), "b")
                 .groupBy(F.col("a").alias("node"), "community")
                 .agg(F.count(F.lit(1)).alias("c")))
        pick = (votes.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .select("node", F.col("community").alias("__new")))
        labels = (labels.join(pick, "node", "left")
                  .select("node",
                          F.coalesce("__new", "community")
                          .alias("community"))
                  .localCheckpoint())
    return labels


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """(node, n_triangles) over the undirected simple graph induced by
    ``edges`` (direction, duplicates, and self-loops are discarded) —
    the clustering / cohesion measure reported next to degree and
    PageRank.

    Algorithm: degree-ordered node-iterator (Latapy's compact-forward /
    the Suri–Vassilvitskii MapReduce orientation): every edge is
    oriented from its lower-``(degree, node)`` endpoint to the higher,
    so each triangle is generated exactly once at its lowest-rank
    corner and — the 100-TB point — a degree-``d`` hub generates wedge
    pairs only from its ORIENTED out-neighbourhood, whose size is
    O(√m) on any graph (bounded by arboricity), not ``d``: the skewed
    hub that makes the naive wedge join quadratic is defused by
    construction, no salting needed.

    Spark shape: one self-join on the wedge center builds candidate
    pairs, one semi-ish inner join against the oriented edge set closes
    them, one explode + hash aggregate credits the three corners; the
    oriented edge set is computed once and persisted (tracked —
    release via :func:`kgloom.ops.cache.unpersist_tracked`).  All
    Catalyst, no Python."""
    e = (edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull()
                     & (F.col(src) != F.col(dst)))
         .select(F.least(F.col(src), F.col(dst)).alias("u"),
                 F.greatest(F.col(src), F.col(dst)).alias("v"))
         .distinct())
    deg = (e.select(F.col("u").alias("node"))
           .unionByName(e.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("d")))
    nodes = tracked_persist(deg.select("node"))
    ranked = (e.join(deg.withColumnsRenamed({"node": "u", "d": "du"}), "u")
              .join(deg.withColumnsRenamed({"node": "v", "d": "dv"}), "v"))
    lower_first = (F.col("du") < F.col("dv")) | \
        ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = tracked_persist(ranked.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(lower_first, F.col("dv")).otherwise(F.col("du"))
        .alias("db")))
    # wedges at the lowest-rank corner: two out-edges of a, the pair
    # itself rank-ordered so the closing edge's orientation is known
    w1 = oriented.select("a", F.col("b").alias("b1"),
                         F.col("db").alias("db1"))
    w2 = oriented.select("a", F.col("b").alias("b2"),
                         F.col("db").alias("db2"))
    wedges = w1.join(w2, "a").where(
        (F.col("db1") < F.col("db2"))
        | ((F.col("db1") == F.col("db2")) & (F.col("b1") < F.col("b2"))))
    closing = oriented.select(F.col("a").alias("b1"),
                              F.col("b").alias("b2"))
    tri = wedges.join(closing, ["b1", "b2"])
    corners = (tri.select(F.explode(F.array("a", "b1", "b2"))
                          .alias("node"))
               .groupBy("node").agg(F.count(F.lit(1))
                                    .alias("n_triangles")))
    return (nodes.join(corners, "node", "left")
            .select("node", F.coalesce("n_triangles", F.lit(0))
                    .alias("n_triangles")))


def hits(edges: DataFrame, iterations: int = 2,
         src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, hub, auth): Kleinberg HITS after ``iterations``
    UNNORMALIZED power-iteration rounds over the directed edge set —
    hub/authority importance for the KG's link structure (authorities
    = heavily-referenced targets, hubs = nodes referencing strong
    authorities).

    Unnormalized scores after k rounds are exact INTEGER path counts
    (auth₁ = in-degree, hub₁ = Σ in-degrees of successors, …), so the
    result is engine-exact and oracle-replayable with no float
    normalization drift — the same integers-over-floats determinism
    rule as quality_score / adamic_adar's ordered fold; callers
    normalize downstream if they need the classic unit-norm scores.

    Shape at scale: per round, two hash joins + two hash aggregates
    (edges ⋈ scores grouped by the opposite endpoint) — identical
    shuffle profile to one PageRank iteration; the plan stays lazy
    (no eager checkpoints) since ``iterations`` is small and fixed."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    # e and nodes are each referenced twice PER ROUND; persisting
    # them keeps the upstream (e.g. the triple-construction pipeline)
    # to one computation instead of 4k rescans (tracked — release via
    # kgloom.ops.cache.unpersist_tracked)
    e = tracked_persist(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct())
    nodes = tracked_persist(_nodes(e, "s", "d"))
    hub = nodes.select("node", F.lit(1).cast("long").alias("hub"))
    auth = None
    for _ in range(iterations):
        auth = (e.join(hub.withColumnRenamed("node", "s"), "s")
                .groupBy("d").agg(F.sum("hub").alias("__a"))
                .withColumnRenamed("d", "node"))
        auth = nodes.join(auth, "node", "left").select(
            "node",
            F.coalesce("__a", F.lit(0)).cast("long").alias("auth"))
        hub = (e.join(auth.withColumnRenamed("node", "d"), "d")
               .groupBy("s").agg(F.sum("auth").alias("__h"))
               .withColumnRenamed("s", "node"))
        hub = nodes.join(hub, "node", "left").select(
            "node",
            F.coalesce("__h", F.lit(0)).cast("long").alias("hub"))
    return hub.join(auth, "node").select("node", "hub", "auth")


def degree_summary(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """(node, out_degree, in_degree) over the distinct edge set —
    two hash aggregates and an outer merge, no driver traffic."""
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
         .distinct())
    out_d = (e.groupBy(F.col("src").alias("node"))
             .agg(F.count(F.lit(1)).alias("out_degree")))
    in_d = (e.groupBy(F.col("dst").alias("node"))
            .agg(F.count(F.lit(1)).alias("in_degree")))
    return (out_d.join(in_d, "node", "full")
            .select("node",
                    F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
                    F.coalesce("in_degree", F.lit(0)).alias("in_degree")))


def k_core(edges: DataFrame, k: int, src: str = "src",
           dst: str = "dst", max_rounds: int = 64) -> DataFrame:
    """(node, degree): the k-core of the undirected graph — the
    maximal subgraph where every node keeps degree >= k — with each
    survivor's degree INSIDE the core.  The density/cohesion filter a
    KG pipeline uses to separate the well-connected entity backbone
    from peripheral noise.

    Classic peeling, run distributed: each round drops every node
    whose current degree is below ``k`` and recomputes degrees on the
    induced subgraph; the loop stops at the fixpoint (no node
    dropped).  Rounds needed = the graph's peeling depth for this
    ``k`` (typically small); each round is one hash-aggregate plus
    one semi-join — no Python, nothing collected except the one-row
    convergence count (:func:`kgloom.ops.iterate.fixpoint`: peeling
    only ever drops edges).  Raises RuntimeError if ``max_rounds`` is
    exhausted before the fixpoint — a silent partial peel would be an
    incorrect core, not an approximation."""
    if k < 1:
        raise ValueError("k must be >= 1")

    def peel(e):
        keep = (e.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
                .where(F.col("degree") >= k))
        return (e.join(keep.select("u"), "u", "semi")
                .join(keep.select(F.col("u").alias("v")), "v", "semi"))

    core = fixpoint(_edge_set(edges, src, dst, "u", "v"), peel,
                    max_rounds=max_rounds, name="k_core")
    return (core.groupBy(F.col("u").alias("node"))
            .agg(F.count(F.lit(1)).alias("degree")))


def _open_wedges(edges: DataFrame, src: str, dst: str,
                 max_center_degree: int | None):
    """(deg, wedges) of the undirected simple graph: the degree table
    (w, deg_w) and every open wedge u – w – v (u < v, u and v NOT
    adjacent) as (w, deg_w, u, v), one row per common neighbor ``w``.

    A degree-1 center cannot be a COMMON neighbor (it has exactly one
    neighbor) — dropping it prunes wedge work and keeps 1/ln(deg_w)
    well-defined under ANSI mode; ``max_center_degree`` drops hub
    centers BEFORE the self-join (the O(deg²) fan-out guard)."""
    e = _edge_set(edges, src, dst, "u", "v")
    deg = e.groupBy(F.col("u").alias("w")).agg(
        F.count(F.lit(1)).alias("deg_w"))
    centers = deg.where(F.col("deg_w") >= 2)
    if max_center_degree is not None:
        centers = centers.where(F.col("deg_w") <= max_center_degree)
    adj = (e.select(F.col("u").alias("w"), F.col("v").alias("x"))
           .join(centers, "w"))
    wedges = (adj.select("w", "deg_w", F.col("x").alias("u"))
              .join(adj.select("w", F.col("x").alias("v")), "w")
              .where(F.col("u") < F.col("v")))
    return deg, wedges.join(
        e.select(F.col("u").alias("__eu"), F.col("v").alias("__ev")),
        (F.col("u") == F.col("__eu")) & (F.col("v") == F.col("__ev")),
        "left_anti")


def adamic_adar(edges: DataFrame, src: str = "src", dst: str = "dst",
                min_common: int = 1,
                max_center_degree: int | None = None) -> DataFrame:
    """(u, v, n_common, aa_score): Adamic–Adar link-prediction scores
    for NON-adjacent node pairs (u < v) sharing at least
    ``min_common`` neighbors — ``Σ_w 1/ln(deg(w))`` over the common
    neighbors ``w``.  The classic non-embedding KG-completion
    baseline, and the candidate generator an embedding ranker is
    evaluated against.

    Shape: one wedge self-join through the center node (each
    candidate pair is generated once per common neighbor), an
    anti-join against the edge set to keep non-edges only, then one
    grouped ORDERED fold (sort by center id + sequential
    ``F.aggregate``) so the double sum is engine-reproducible — the
    same determinism rule as the bigram LM.

    ``max_center_degree`` optionally drops hub centers from wedge
    generation BEFORE the self-join — the O(deg²) fan-out guard for
    skewed graphs, principled here because a hub's AA contribution is
    the minimum possible (1/ln(deg) vanishes as deg grows).  None
    means exact."""
    _, wedges = _open_wedges(edges, src, dst, max_center_degree)
    wedges = wedges.withColumn(
        "wt", F.lit(1.0) / F.log(F.col("deg_w").cast("double")))
    arr = F.sort_array(F.collect_list(F.struct("w", "wt")))
    folded = F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x["wt"])
    return (wedges.groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("n_common"),
                 folded.alias("aa_score"))
            .where(F.col("n_common") >= min_common))


def bfs_levels(edges: DataFrame, sources: DataFrame,
               max_depth: int = 10, src: str = "src", dst: str = "dst",
               directed: bool = False) -> DataFrame:
    """(node, level): minimum hop distance from the SOURCE set —
    frontier breadth-first search, the seeded-reachability primitive
    (how far is every KG node from the tools / from this entity
    cluster).  Work is O(edges incident to reached nodes) per level —
    the frontier pattern the anchored property paths use, here
    exposed as a first-class operator.

    Per level: one join (frontier ⋈ adjacency) + one anti-join
    against the visited set; both ``localCheckpoint``ed (the loop is
    eager, lineage must not stack).  Stops as soon as the frontier
    empties or at ``max_depth``.  ``sources`` is a one-column
    DataFrame; sources not present in the graph are still reported at
    level 0 (they are trivially at distance 0 from themselves)."""
    if max_depth < 0:
        raise ValueError("max_depth must be >= 0")
    adj = tracked_persist(
        _edge_set(edges, src, dst, "a", "b", undirected=not directed))
    frontier = (sources.select(F.col(sources.columns[0]).alias("node"))
                .distinct().localCheckpoint())
    visited = frontier.withColumn("level", F.lit(0).cast("int"))
    for depth in range(1, max_depth + 1):
        nxt = (adj.join(frontier.withColumnRenamed("node", "a"), "a")
               .select(F.col("b").alias("node")).distinct()
               .join(visited.select("node"), "node", "left_anti")
               .localCheckpoint())
        if nxt.limit(1).count() == 0:
            break
        visited = (visited.unionByName(
            nxt.withColumn("level", F.lit(depth).cast("int")))
            .localCheckpoint())
        frontier = nxt
    return visited


def jaccard_pairs(edges: DataFrame, src: str = "src", dst: str = "dst",
                  min_common: int = 1,
                  max_center_degree: int | None = None) -> DataFrame:
    """(u, v, n_common, deg_u, deg_v, jaccard): neighborhood-Jaccard
    link-prediction scores for NON-adjacent pairs (u < v) —
    ``|N(u)∩N(v)| / |N(u)∪N(v)|``, the set-overlap counterpart of
    :func:`adamic_adar` (which down-weights hub neighbors; Jaccard
    normalizes by neighborhood size instead).

    Everything upstream of the final ratio is an exact INTEGER
    (common-neighbor count via the wedge self-join, true degrees
    joined per endpoint); ``jaccard`` is the single division
    n∩/(deg_u+deg_v−n∩) of exact integers — one float op, no
    cross-row float sums, so no ordered-fold machinery is needed for
    engine-exact replay.  ``max_center_degree`` drops hub CENTERS
    from wedge generation only (the O(deg²) guard, mirrored by the
    oracle); endpoint degrees stay exact."""
    deg, wedges = _open_wedges(edges, src, dst, max_center_degree)
    pairs = (wedges.groupBy("u", "v")
             .agg(F.count(F.lit(1)).alias("n_common"))
             .where(F.col("n_common") >= min_common))
    du = deg.select(F.col("w").alias("u"), F.col("deg_w").alias("deg_u"))
    dv = deg.select(F.col("w").alias("v"), F.col("deg_w").alias("deg_v"))
    return (pairs.join(du, "u").join(dv, "v")
            .select("u", "v", "n_common", "deg_u", "deg_v",
                    (F.col("n_common").cast("double")
                     / (F.col("deg_u") + F.col("deg_v")
                        - F.col("n_common")).cast("double"))
                    .alias("jaccard")))


def predicate_profile(triples: DataFrame) -> DataFrame:
    """(pred, n_triples, n_subj, n_obj, max_out, max_in, functional,
    inverse_functional): per-predicate cardinality profile of a triple
    table — the construction-QA report that also feeds OWL axiom
    suggestion (max_out == 1 everywhere observed → candidate
    owl:FunctionalProperty; max_in == 1 → candidate
    InverseFunctionalProperty).

    Two hash aggregates per direction plus one per-predicate rollup —
    integers only, no joins against the triple table itself."""
    out_deg = (triples.groupBy("pred", "subj")
               .agg(F.count(F.lit(1)).alias("d")))
    in_deg = (triples.groupBy("pred", "obj")
              .agg(F.count(F.lit(1)).alias("d")))
    outs = out_deg.groupBy("pred").agg(
        F.sum("d").alias("n_triples"),
        F.count(F.lit(1)).alias("n_subj"),
        F.max("d").alias("max_out"))
    ins = in_deg.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_obj"),
        F.max("d").alias("max_in"))
    return (outs.join(ins, "pred")
            .select("pred", "n_triples", "n_subj", "n_obj",
                    "max_out", "max_in",
                    (F.col("max_out") == 1).alias("functional"),
                    (F.col("max_in") == 1).alias("inverse_functional")))


def pmi_pairs(incidence: DataFrame, bag: str = "bag",
              item: str = "item", min_count: int = 1) -> DataFrame:
    """(a, b, n_ab, n_a, n_b, n_bags, pmi): pointwise mutual
    information of item pairs co-occurring in bags —
    ``ln((n_ab · N) / (n_a · n_b))`` — the statistical edge-confidence
    weight a co-occurrence KG uses to prune coincidental links before
    they enter the graph (positive = above-chance association).

    Pure count arithmetic plus ONE ln per pair, so any engine replays
    the double exactly (no sums of floats anywhere).  Shape: dedup the
    incidence, one self-join on the bag key (fan-out bounded by bag
    size, the same wedge shape as the co-mention edge builder), two
    broadcast-friendly joins against the item counts, one broadcast
    1-row bag total."""
    inc = incidence.select(F.col(bag).alias("b"),
                           F.col(item).alias("i")).distinct()
    n_bags = inc.agg(F.count_distinct("b").alias("n_bags"))
    cnt = inc.groupBy("i").agg(F.count(F.lit(1)).alias("n_i"))
    lhs = inc.select("b", F.col("i").alias("a"))
    rhs = inc.select("b", F.col("i").alias("bb"))
    pairs = (lhs.join(rhs, "b")
             .where(F.col("a") < F.col("bb"))
             .groupBy(F.col("a"), F.col("bb").alias("b"))
             .agg(F.count(F.lit(1)).alias("n_ab"))
             .where(F.col("n_ab") >= min_count))
    ca = cnt.select(F.col("i").alias("a"), F.col("n_i").alias("n_a"))
    cb = cnt.select(F.col("i").alias("b"), F.col("n_i").alias("n_b"))
    pmi = F.log((F.col("n_ab").cast("double") * F.col("n_bags"))
                / (F.col("n_a").cast("double") * F.col("n_b")))
    return (pairs.join(ca, "a").join(cb, "b")
            .crossJoin(F.broadcast(n_bags))
            .select("a", "b", "n_ab", "n_a", "n_b", "n_bags",
                    pmi.alias("pmi")))


def _hex_draw(df: DataFrame, salt_cols) -> DataFrame:
    """``df`` plus ``__draw``: the first 32 bits of md5 over the
    ``|``-joined ``salt_cols`` as a long, staged through a named hex
    column (the Spark 4.1.2 fused-conv hazard, see
    kgloom/ops/negatives.py)."""
    return (df.withColumn("__hex8", F.substring(F.md5(
                F.concat_ws("|", *salt_cols)), 1, 8))
            .withColumn("__draw", F.conv("__hex8", 16, 10).cast("long")))


def _walk_start(edges: DataFrame, src: str, dst: str, n_walks: int,
                walk_len: int, directed: bool):
    """(keep, e, nbr, deg, cur) for the walkers: the distinct edge set
    ``e`` (s, d), each source's neighbors with their 0-based id-order
    rank (ns, nd, rank), the degree table (dn, deg), and step 0 of
    every walk (start, walk_id, step, node).

    Fresh column names per derived table: nbr and deg share e's
    lineage, and a later join of both trips Spark's ambiguous-self-join
    analysis if they expose the same attribute.  Both are joined at
    EVERY step of the eager (localCheckpoint) walk loop; without
    persistence each step's job recomputes the upstream edge pipeline.
    Measured A/B at sf0.1 (local[32], quiet host, min-of-2): recompute
    WINS for short walks (7.3s vs 10.2s at walk_len=3 — cache
    materialization breaks scan/join pipelining and costs more than two
    cheap rescans), while at walk_len≥8 the 2·walk_len rescans dominate
    — so ``keep`` persists (tracked — release via
    kgloom.ops.cache.unpersist_tracked) only walks of 8+ steps."""
    if n_walks < 1 or walk_len < 1:
        raise ValueError("n_walks and walk_len must be >= 1")
    keep = tracked_persist if walk_len >= 8 else (lambda df: df)
    e = _edge_set(edges, src, dst, "s", "d", undirected=not directed)
    nbr = keep(
        e.withColumn("rank", F.row_number().over(
            Window.partitionBy("s").orderBy("d")) - 1)
        .select(F.col("s").alias("ns"), F.col("d").alias("nd"), "rank"))
    deg = keep(
        e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
        .select(F.col("s").alias("dn"), "deg"))
    cur = (_nodes(e, "s", "d").select(
        F.col("node").alias("start"),
        F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1)))
        .alias("walk_id"),
        F.lit(0).alias("step"),
        F.col("node").alias("node")).localCheckpoint())
    return keep, e, nbr, deg, cur


def _uniform_step(cur: DataFrame, nbr: DataFrame, deg: DataFrame,
                  i: int) -> DataFrame:
    """Step ``i`` of a first-order walk: each walker row of ``cur``
    joined to the neighbor (``nd``) whose rank is
    ``md5(start|walk_id|i|node) mod deg(node)``.  Walkers on a node
    with no out-edge have no row."""
    drawn = _hex_draw(cur.join(deg, cur["node"] == deg["dn"]),
                      ["start", F.col("walk_id").cast("string"),
                       F.lit(str(i)), "node"])
    drawn = drawn.withColumn("__slot", F.col("__draw") % F.col("deg"))
    return drawn.join(nbr, (drawn["node"] == nbr["ns"])
                      & (drawn["__slot"] == nbr["rank"]))


def random_walks(edges: DataFrame, n_walks: int = 2, walk_len: int = 3,
                 src: str = "src", dst: str = "dst",
                 directed: bool = False) -> DataFrame:
    """(start, walk_id, step, node): ``n_walks`` random walks of up to
    ``walk_len`` steps from every node — the DeepWalk/node2vec
    training-sequence generator, made fully DETERMINISTIC: step ``i``
    of walk ``w`` from ``start`` standing at ``cur`` moves to the
    neighbor whose per-source rank (neighbors ordered by node id)
    equals ``md5(start|w|i|cur) mod deg(cur)``.  Reruns, resumed jobs
    and the DuckDB oracle all walk the SAME paths — no RNG state, no
    seed plumbing.

    Per step: one broadcast-friendly join against the degree table to
    draw the slot, then one EQUI-join on (source, rank) — the walker
    never fans out over a hub's full adjacency.  Walks stop early at
    sinks (directed mode) — no row is emitted rather than a
    self-stall.  The adjacency tables are persisted for walks of 8+
    steps (see :func:`_walk_start`)."""
    _, _, nbr, deg, cur = _walk_start(edges, src, dst, n_walks,
                                      walk_len, directed)
    out = cur
    for i in range(walk_len):
        cur = (_uniform_step(cur, nbr, deg, i)
               .select("start", "walk_id",
                       (F.col("step") + 1).alias("step"),
                       F.col("nd").alias("node"))
               .localCheckpoint())
        out = out.unionByName(cur)
    return out


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(center, context, offset): word2vec-style skip-gram training
    pairs from walk sequences — every ordered pair of nodes within
    ``window`` steps of each other on the same walk (offset =
    context_step − center_step, never 0).  The step after
    :func:`random_walks` in a node-embedding pipeline.

    One self-join keyed on the walk identity with a bounded
    step-range predicate — fan-out per row is at most ``2·window``,
    independent of graph shape."""
    if window < 1:
        raise ValueError("window must be >= 1")
    a = walks.select(F.col("start").alias("__s"),
                     F.col("walk_id").alias("__w"),
                     F.col("step").alias("__i"),
                     F.col("node").alias("center"))
    b = walks.select(F.col("start").alias("__s"),
                     F.col("walk_id").alias("__w"),
                     F.col("step").alias("__j"),
                     F.col("node").alias("context"))
    return (a.join(b, ["__s", "__w"])
            .where((F.col("__i") != F.col("__j"))
                   & (F.abs(F.col("__j") - F.col("__i")) <= window))
            .select("center", "context",
                    (F.col("__j") - F.col("__i")).alias("offset")))


def biased_walks(edges: DataFrame, p: float = 4.0, q: float = 0.25,
                 n_walks: int = 1, walk_len: int = 3,
                 src: str = "src", dst: str = "dst") -> DataFrame:
    """(start, walk_id, step, node): node2vec second-order biased
    walks over the undirected graph, fully deterministic.  From
    ``prev → cur``, neighbor ``x`` of ``cur`` is weighted ``1/p`` if
    ``x == prev`` (return), ``1`` if ``x`` is also a neighbor of
    ``prev`` (BFS-ish), else ``1/q`` (DFS-ish); the walker picks the
    first id-ordered neighbor whose cumulative weight exceeds
    ``md5(start|w|i|prev|cur)/2³² · total``.  Step 1 has no ``prev``
    and draws uniformly (the :func:`random_walks` rule).

    ``p`` and ``q`` MUST be powers of two: every weight is then an
    exact binary fraction, so cumulative sums are EXACT doubles and
    the pick threshold compares identically in any engine regardless
    of summation association — the float-determinism trick that makes
    a biased sampler oracle-replayable (the draw·total product stays
    ≤ 52 significand bits).

    Per step: the walker joins its current node's adjacency (fan-out
    = deg(cur) — inherent to second-order biasing, every neighbor
    needs a weight), one left join against the edge set marks
    BFS neighbors, one cumulative window per walker picks the
    successor; ``localCheckpoint`` truncates the iterative lineage.
    The adjacency tables are persisted for walks of 8+ steps (see
    :func:`_walk_start`)."""
    import math
    for name, val in (("p", p), ("q", q)):
        if val <= 0 or 2.0 ** round(math.log2(val)) != val:
            raise ValueError(f"{name} must be a power of two, got {val}")
    # the edge set is re-joined every step too, so it is kept with the
    # adjacency tables
    keep, e, nbr, deg, cur = _walk_start(edges, src, dst, n_walks,
                                         walk_len, directed=False)
    eset = keep(e.select(F.col("s").alias("es"), F.col("d").alias("ed")))
    out = cur
    # step 1: uniform first-order move (no prev to bias against)
    cur = (_uniform_step(cur, nbr, deg, 0)
           .select("start", "walk_id", F.lit(1).alias("step"),
                   F.col("node").alias("prev"),
                   F.col("nd").alias("node"))
           .localCheckpoint())
    out = out.unionByName(cur.select("start", "walk_id", "step", "node"))

    inv_p, inv_q = 1.0 / p, 1.0 / q
    wspec = Window.partitionBy("start", "walk_id")
    worder = wspec.orderBy("rank")
    for i in range(1, walk_len):
        cand = (cur.join(nbr, cur["node"] == nbr["ns"])
                .withColumnRenamed("nd", "x"))
        cand = (cand.join(
            eset, (cand["prev"] == eset["es"]) & (cand["x"] == eset["ed"]),
            "left")
            .withColumn("__alpha", F.when(
                F.col("x") == F.col("prev"), F.lit(inv_p))
                .when(F.col("es").isNotNull(), F.lit(1.0))
                .otherwise(F.lit(inv_q)))
            .drop("es", "ed"))
        cand = (cand
                .withColumn("__cum", F.sum("__alpha").over(
                    worder.rowsBetween(Window.unboundedPreceding, 0)))
                .withColumn("__total", F.sum("__alpha").over(wspec)))
        cand = _hex_draw(cand, ["start",
                                F.col("walk_id").cast("string"),
                                F.lit(str(i)), "prev", "node"])
        # t = draw/2^32 * total — exact binary arithmetic throughout
        cand = cand.withColumn(
            "__t", F.col("__draw").cast("double")
            / F.lit(4294967296.0) * F.col("__total"))
        picked = (cand.where(F.col("__cum") > F.col("__t"))
                  .withColumn("__pick", F.row_number().over(worder))
                  .where(F.col("__pick") == 1))
        cur = (picked.select("start", "walk_id",
                             F.lit(i + 1).alias("step"),
                             F.col("node").alias("prev"),
                             F.col("x").alias("node"))
               .localCheckpoint())
        out = out.unionByName(
            cur.select("start", "walk_id", "step", "node"))
    return out


def link_prediction_ranks(edges: DataFrame, test_fraction: float = 0.2,
                          salt: str = "lp",
                          src: str = "src", dst: str = "dst",
                          max_center_degree: int | None = None
                          ) -> DataFrame:
    """(u, v, rank, found): the link-prediction evaluation harness —
    hold out a deterministic ``test_fraction`` of canonical edges
    (md5 hex-rank split, same rule as the dataset splitters in
    kgloom/ops/curate.py), score the remaining graph with
    :func:`adamic_adar`, and report where each held-out edge ranks
    among its source's candidates (1 = best; ``found=false`` when the
    edge isn't reachable at distance 2 in the training graph).
    MRR / Hits@k are one trivial aggregate downstream — emitting
    per-edge ranks instead keeps every output an exact integer (no
    cross-row float sums to reproduce) and gives the per-edge
    diagnostics an eval report actually wants."""
    from .curate import _hex_threshold
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    canon = (fwd.select(F.least("a", "b").alias("u"),
                        F.greatest("a", "b").alias("v"))
             .where(F.col("u") != F.col("v")).distinct())
    hexr = F.substring(F.md5(F.concat_ws("|", "u", "v", F.lit(salt))),
                       1, 8)
    tagged = canon.withColumn(
        "__test", hexr < F.lit(_hex_threshold(test_fraction)))
    train = tagged.where(~F.col("__test")).select("u", "v")
    test = tagged.where(F.col("__test")).select("u", "v")
    aa = adamic_adar(train, src="u", dst="v",
                     max_center_degree=max_center_degree)
    ranked = aa.withColumn("rank", F.row_number().over(
        Window.partitionBy("u").orderBy(F.desc("aa_score"), "v")))
    return (test.join(ranked.select("u", "v", "rank"), ["u", "v"],
                      "left")
            .select("u", "v", "rank",
                    F.col("rank").isNotNull().alias("found")))


def shortest_paths(edges: DataFrame, sources: DataFrame,
                   weight: str | None = None, max_rounds: int = 20,
                   src: str = "src", dst: str = "dst",
                   directed: bool = True) -> DataFrame:
    """(node, dist): minimum path weight from the SOURCE set —
    frontier-optimized Bellman-Ford relaxation (the Pregel SSSP
    pattern as iterative DataFrame joins).

    ``weight`` names a non-negative numeric edge column (``None`` →
    every edge costs 1 and this degrades to hop distance).  Per round
    only the nodes IMPROVED last round propagate (delta relaxation):
    one join frontier ⋈ adjacency, one min-aggregate, one min-merge
    against the running distances — work is O(edges incident to the
    frontier), not O(V·E), and the loop exits as soon as a round
    improves nothing (≤ the graph's hop diameter rounds on
    non-negative weights).  All steps ``localCheckpoint``ed so
    lineage never stacks.

    Scale shape: the distance table is one row per REACHED node, the
    frontier a shrinking subset; no collects, no broadcasts of
    node-sized state.  ``max_rounds`` bounds pathological inputs
    (negative-weight graphs converge to the ≤ max_rounds-hop optimum
    only).
    """
    if max_rounds < 0:
        raise ValueError("max_rounds must be >= 0")
    w = F.col(weight) if weight else F.lit(1)
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"),
                       w.alias("w"))
    e = fwd if directed else fwd.unionByName(
        fwd.select(F.col("b").alias("a"), F.col("a").alias("b"), "w"))
    # parallel edges collapse to their cheapest — fewer candidate rows
    adj = tracked_persist(
        e.groupBy("a", "b").agg(F.min("w").alias("w")))
    wtype = dict(adj.dtypes)["w"]
    dist = (sources.select(F.col(sources.columns[0]).alias("node"))
            .distinct()
            .withColumn("dist", F.lit(0).cast(wtype))
            .localCheckpoint())
    frontier = dist
    for rnd in range(max_rounds):
        cand = (adj.join(frontier.withColumnRenamed("node", "a"), "a")
                .select(F.col("b").alias("node"),
                        (F.col("dist") + F.col("w")).alias("dist"))
                .groupBy("node").agg(F.min("dist").alias("dist")))
        improved = (cand.join(dist.withColumnRenamed("dist", "__cur"),
                              "node", "left")
                    .where(F.col("__cur").isNull() |
                           (F.col("dist") < F.col("__cur")))
                    .drop("__cur")
                    .localCheckpoint())
        if improved.limit(1).count() == 0:
            break
        dist = (dist.join(improved.select("node"), "node", "left_anti")
                .unionByName(improved))
        # the frontier MUST checkpoint every round (it feeds the next
        # join and the early-stop probe); the full distance table only
        # needs periodic truncation — every 4th round halves the
        # materialization jobs without letting the plan stack deep
        if rnd % 4 == 3:
            dist = dist.localCheckpoint()
        frontier = improved
    return dist.localCheckpoint()


def _kmv_balls(edges: DataFrame, src: str, dst: str, directed: bool,
               radius: int, k: int):
    """Yield, for r = 0..radius, the ``localCheckpoint``ed KMV synopsis
    (node, __f) of every node's ≤r-hop reachable set: each round a
    node's synopsis absorbs its successors' synopses,

        reach_r(v) = TopK(distinct(reach_{r-1}(v) ∪
                                   ⋃_{v→u} reach_{r-1}(u))),

    one edge ⋈ synopsis join plus one bounded per-node top-k — O(E·k)
    rows shuffled, ≤ k state rows per node, lineage truncated per
    round."""
    from .sketch import _hash_fraction
    adj = tracked_persist(
        _edge_set(edges, src, dst, "a", "b", undirected=not directed))
    reach = (_nodes(adj, "a", "b")
             .withColumn("__f", _hash_fraction(F.col("node")))
             .localCheckpoint())
    yield reach
    w = Window.partitionBy("node").orderBy("__f")
    for _ in range(radius):
        prop = (adj.join(reach.withColumnRenamed("node", "b"), "b")
                .select(F.col("a").alias("node"), "__f"))
        reach = (reach.unionByName(prop).distinct()
                 .withColumn("__rn", F.row_number().over(w))
                 .where(F.col("__rn") <= k).drop("__rn")
                 .localCheckpoint())
        yield reach


def _ball_sizes(state: DataFrame, k: int) -> DataFrame:
    """(node, n_minima, f_k, est) of a KMV synopsis state: ``est`` is
    the exact ball size below ``k`` minima and the (k-1)/f_k estimate
    at ``k``."""
    agg = state.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_minima"),
        F.max("__f").alias("f_k"))
    est = (F.when(F.col("n_minima") < k,
                  F.col("n_minima").cast("double"))
           .otherwise(F.lit(float(k - 1)) / F.col("f_k")))
    return agg.select("node", "n_minima", "f_k", est.alias("est"))


def reach_synopsis(edges: DataFrame, radius: int, k: int = 16,
                   src: str = "src", dst: str = "dst",
                   directed: bool = True) -> DataFrame:
    """(node, n_minima, f_k, est): per-node estimate of the ≤radius-hop
    reachable-set size ("ball") — the neighborhood function / effective-
    diameter primitive (the HyperANF idea, Boldi et al. 2011, with the
    engine's deterministic KMV synopsis in place of HyperLogLog so the
    result is oracle-checkable).

    Per round each node's synopsis absorbs its successors' synopses
    (the recurrence in :func:`_kmv_balls`).  KMV mergeability makes
    this EXACT-by-construction: after ``r``
    rounds a node's k minima are precisely the KMV synopsis of its
    true ≤r-hop ball, so ``est`` is exact for balls below ``k`` and
    the standard (k-1)/f_k estimate above — bit-replayable by any
    engine that can enumerate the ball (the DuckDB oracle does, via a
    hop-bounded recursive CTE + the same md5 arithmetic).

    Scale shape: state is ≤ k rows per node; each round is one
    edge ⋈ synopsis join + one bounded per-node top-k — O(E·k) rows
    shuffled, no collects, lineage truncated per round.
    """
    if radius < 0:
        raise ValueError("radius must be >= 0")
    *_, reach = _kmv_balls(edges, src, dst, directed, radius, k)
    return _ball_sizes(reach, k)


def harmonic_centrality(edges: DataFrame, radius: int, k: int = 16,
                        src: str = "src", dst: str = "dst",
                        directed: bool = True) -> DataFrame:
    """(node, harmonic): outward harmonic centrality truncated at
    ``radius`` hops, H(v) = Σ_{r=1..radius} (|B_r(v)| − |B_{r−1}(v)|)/r
    — every node first reached at distance r contributes 1/r (Boldi &
    Vigna, "Axioms for Centrality", 2014; ball sizes from the same
    KMV-synopsis recurrence as :func:`reach_synopsis`, so exact below
    ``k`` and the (k−1)/f_k estimate above).  Ball sizes are
    non-decreasing in r by synopsis monotonicity (minima only ever
    shrink), so every increment is ≥ 0.  Rounded to 6 decimals —
    deterministic, oracle-replayable.

    Scale: identical per-round cost to :func:`reach_synopsis`
    (edge ⋈ synopsis + bounded per-node top-k) plus one k-row-per-node
    aggregate per radius, all differenced in one window at the end.
    """
    if radius < 1:
        raise ValueError("radius must be >= 1")
    # one (node, r, est) slice per radius off the CHECKPOINTED reach
    # states, differenced in a single window at the end — no
    # per-round accumulator joins/materializations (the first cut
    # checkpointed an acc join chain every round: 23s vs 8s at sf0.1)
    allr = reduce(DataFrame.unionByName, (
        _ball_sizes(reach, k).select("node", F.lit(r).alias("r"), "est")
        for r, reach in enumerate(
            _kmv_balls(edges, src, dst, directed, radius, k))))
    wr = Window.partitionBy("node").orderBy("r")
    return (allr.withColumn("__pe", F.lag("est").over(wr))
            .where(F.col("r") >= 1)
            .groupBy("node")
            .agg(F.round(F.sum((F.col("est") - F.col("__pe"))
                               / F.col("r").cast("double")), 6)
                 .alias("harmonic")))


def effective_diameter(edges: DataFrame, max_radius: int, k: int = 16,
                       quantile: float = 0.9, src: str = "src",
                       dst: str = "dst",
                       directed: bool = True) -> DataFrame:
    """One row (eff_diameter, total_pairs): the ``quantile``-effective
    diameter — the (interpolated) smallest radius at which the
    neighborhood function N(r) = Σ_v |B_r(v)| reaches ``quantile`` of
    its value at ``max_radius`` (THE HyperANF deliverable, Boldi et
    al. 2011; Palmer et al.'s ANF before it), with ball sizes from the
    same deterministic KMV recurrence as :func:`reach_synopsis`.
    Standard linear interpolation between the straddling radii;
    rounded to 6 decimals, oracle-replayable.

    Scale: the per-round cost of :func:`reach_synopsis`; the distance
    distribution is ``max_radius + 1`` scalars (a per-radius sum with
    map-side partial aggregation) — nothing node-sized leaves the
    cluster."""
    if max_radius < 1:
        raise ValueError("max_radius must be >= 1")
    allr = reduce(DataFrame.unionByName, (
        _ball_sizes(reach, k).select(F.lit(r).alias("r"), "est")
        for r, reach in enumerate(
            _kmv_balls(edges, src, dst, directed, max_radius, k))))
    nf = allr.groupBy("r").agg(F.sum("est").alias("nr"))
    total = nf.agg(F.max("nr").alias("__max"))
    wr = Window.orderBy("r")
    # first radius where nr >= q*max; interpolate from the previous
    hit = (nf.crossJoin(F.broadcast(total))
           .withColumn("__prev", F.lag("nr").over(wr))
           .where(F.col("nr") >= F.lit(quantile) * F.col("__max"))
           .orderBy("r").limit(1))
    eff = (F.when(F.col("r") == 0, F.lit(0.0))
           .otherwise(F.col("r") - 1
                      + (F.lit(quantile) * F.col("__max")
                         - F.col("__prev"))
                      / (F.col("nr") - F.col("__prev"))))
    return hit.select(F.round(eff, 6).alias("eff_diameter"),
                      F.round(F.col("__max"), 6).alias("total_pairs"))


#: below this edge count the component computation runs driver-side
#: (union-find) instead of iterative joins — two-level strategy: the
#: distinct-surface graph after blocking is usually tiny relative to the
#: mention stream, and a driver union-find on ≤ a few million edges is
#: milliseconds vs seconds of per-round job latency.  Above it, the
#: GraphFrames-style iterative hash-join propagation takes over.
DRIVER_CC_MAX_EDGES = 2_000_000


def union_find(edge_rows) -> dict[str, str]:
    """node → component over an iterable of (src, dst) pairs, with
    component = the minimal node of each component (union by label
    order, path compression)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for src, dst in edge_rows:
        parent.setdefault(src, src)
        parent.setdefault(dst, dst)
        rs, rd = find(src), find(dst)
        if rs != rd:
            lo, hi = (rs, rd) if rs < rd else (rd, rs)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def connected_components(edges: DataFrame, max_iter: int = 20,
                         driver_max_edges: int = DRIVER_CC_MAX_EDGES
                         ) -> DataFrame:
    """(src, dst) string edges → (node, component) with component = the
    lexicographically minimal node of each component.

    Size-gated two-level strategy (see DRIVER_CC_MAX_EDGES); the
    distributed path repartitions its iteration state size-aware
    (~500k edges per partition, min 1): small graphs run single-task
    rounds, huge graphs scale out with hash joins on the node key.

    Each distributed round does BOTH a 1-hop neighbor-min propagation
    AND a pointer jump (``label ← min(label, label(label))``, the
    Shiloach–Vishkin / hash-to-min device), so convergence is
    O(log diameter) rounds — plain min-label propagation alone is
    O(diameter), which silently mislabels any component deeper than
    ``max_iter`` (a 101-node chain previously split into 81
    components on this path).  The pointer-jump join keys on the
    label, which skews toward component minima as big components
    coalesce — AQE skew-join handling (on in every session builder
    here) splits those hot partitions.  The label table's row count
    never changes (one row per node), so each round probes for a
    changed label instead; if ``max_iter`` rounds still change one,
    RuntimeError is raised rather than returning labels that would
    merge further.
    """
    spark = edges.sparkSession
    # materialize BEFORE the size probe: the probe count() and the
    # first consumer would otherwise each recompute the full upstream
    # edge pipeline (mention detection + canonicalization when fed
    # from the transcript path)
    bidirected = (edges.select("src", "dst")
                  .unionByName(edges.select(F.col("dst").alias("src"),
                                            F.col("src").alias("dst")))
                  .distinct()
                  .localCheckpoint())
    n_edges = bidirected.count()
    if n_edges <= driver_max_edges:
        # Arrow both ways: toPandas() fetches columnar batches (a
        # pickled Row list measured ~3-5s slower at the 100k-edge
        # scale of one sf0.1 closure query), and handing
        # createDataFrame a pandas frame keeps the return trip on the
        # Arrow path too; bounded by the gate either way.
        # ensure_arrow: the conf defaults to FALSE, which silently
        # reverts both transfers to row pickling (measured 7x slower)
        import pandas as pd

        ensure_arrow(spark)
        pdf = bidirected.toPandas()
        mapping = union_find(zip(pdf["src"], pdf["dst"]))
        if not mapping:
            return spark.createDataFrame([], "node string, component string")
        out = pd.DataFrame(list(mapping.items()),
                           columns=["node", "component"])
        return spark.createDataFrame(out)

    parts = max(1, min(int(spark.conf.get(
        "spark.sql.shuffle.partitions")), n_edges // 500_000 + 1))
    bidirected = bidirected.repartition(parts, "src").localCheckpoint()
    # (reads the checkpoint above, not the raw upstream)
    nodes = (bidirected.select(F.col("src").alias("node")).distinct())
    labels = nodes.withColumn("label", F.col("node")) \
        .repartition(parts, "node")

    for _ in range(max_iter):
        neighbor_min = (bidirected
                        .join(labels.withColumnRenamed("node", "dst"), "dst")
                        .groupBy("src")
                        .agg(F.min("label").alias("nlabel"))
                        .withColumnRenamed("src", "node"))
        stepped = (labels.join(neighbor_min, "node", "left")
                   .select("node",
                           F.least(F.col("label"),
                                   F.coalesce(F.col("nlabel"),
                                              F.col("label")))
                           .alias("label")))
        # pointer jump: label ← label(label) — halves every pointer
        # chain, turning O(diameter) propagation into O(log diameter)
        ptr = stepped.select(F.col("node").alias("__pnode"),
                             F.col("label").alias("__plabel"))
        new_labels = (stepped
                      .join(ptr, stepped["label"] == ptr["__pnode"], "left")
                      .select(stepped["node"],
                              F.least(stepped["label"],
                                      F.coalesce(F.col("__plabel"),
                                                 stepped["label"]))
                              .alias("label"))
                      .repartition(parts, "node")
                      .localCheckpoint())
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "node")
                   .where(F.col("n.label") != F.col("o.label"))
                   .limit(1).count())
        labels = new_labels
        if changed == 0:
            return labels.withColumnRenamed("label", "component")
    raise RuntimeError(
        f"connected_components did not converge within {max_iter} "
        f"rounds; raise max_iter (pointer-jumped rounds cover diameter "
        f"~2^{max_iter})")
