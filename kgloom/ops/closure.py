"""Unified transitive-closure machinery — the single policy point for
every closure in the engine (SPARQL property paths ``p+``/``p*``,
RDFS/OWL schema and instance closures, anchored path queries).

Three strategies, one size-gated dispatcher:

* :func:`doubling_closure` — log-round path doubling
  (R ← R ∪ R∘R) with eager ``localCheckpoint`` lineage truncation per
  round.  ``broadcast_hint=True`` is reserved for SCHEMA-sized
  relations (ontology edges — thousands of rows); instance-scale
  relations must never take the broadcast-hinted path: at 100 TB a
  transitive property's edge set can be billions of rows and
  ``F.broadcast`` on it is a driver/executor OOM.
* :func:`_local_closure_fn` — per-component BFS inside ONE task via
  ``applyInPandas``: O(V·E) work per component, every closure pair
  emitted exactly once (doubling re-derives each pair once per split
  point of its shortest path — the local path avoids that entirely).
* :func:`transitive_closure` — the dispatcher: label weakly-connected
  components (size-gated CC from ``kgloom.ops.graph``), close
  components ≤ :data:`CLOSURE_LOCAL_MAX_EDGES` edges in-task
  (embarrassingly parallel, one shuffle), fall back to distributed
  doubling for giant components.

:func:`anchored_closure` is the seeded variant for constant-anchored
paths (``<x> p+ ?o``): restrict the edge relation to the connected
component(s) containing the anchors BEFORE closing, so the work is
proportional to the anchor's component, not the whole graph's closure.

All functions take a two-column DataFrame and use its own column
names; the first column is the edge source, the second the target.

Path doubling runs on :func:`kgloom.ops.iterate.fixpoint`, which
truncates lineage with an eager ``localCheckpoint()`` every round — a
plain ``persist()`` leaves the logical plan growing ~3× per round
(self-join + union) and sends optimizer time superlinear long before
data size matters.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import connected_components
from .iterate import fixpoint

#: per-component edge budget for the in-partition closure path: a
#: component at the cap emits at most ~edge_cap² ≈ 1M pairs from one
#: task (a few tens of MB of Arrow batch), safely inside executor
#: memory.  Components above it take the distributed doubling path.
CLOSURE_LOCAL_MAX_EDGES = 1_000

#: 2^64-length paths — effectively "until fixpoint" for any real
#: graph; the cap only guards against a logic bug looping forever.
CLOSURE_MAX_ROUNDS = 64


def doubling_closure(edges: DataFrame, *, drop_self: bool = False,
                     broadcast_hint: bool = False,
                     max_rounds: int = CLOSURE_MAX_ROUNDS) -> DataFrame:
    """Distinct transitive closure of a two-column relation by path
    doubling: R_{i+1} = R_i ∪ R_i∘R_i, so a depth-L relation closes in
    ⌈log2 L⌉ rounds of one shuffle join each.

    ``drop_self`` — suppress (x, x) pairs (the irreflexive convention
    for class/property hierarchies).  ``owl:TransitiveProperty`` and
    SPARQL ``p+`` closures pass False: a cycle x→y→x legitimately
    derives (x, x).

    ``broadcast_hint`` — hint the self-join's build side.  ONLY for
    schema-sized relations (see module docstring); the default lets
    AQE choose the join strategy from observed sizes.

    Raises RuntimeError if ``max_rounds`` is exhausted before the
    fixpoint (a depth-L relation needs ⌈log2 L⌉ growing rounds plus
    one confirming round).
    """
    s, d = edges.columns
    keep = (F.col(s) != F.col(d)) if drop_self else F.lit(True)

    def double(rel):
        right = rel.alias("r")
        if broadcast_hint:
            right = F.broadcast(right)
        hop = (rel.alias("l")
               .join(right, F.col(f"l.{d}") == F.col(f"r.{s}"))
               .select(F.col(f"l.{s}").alias(s), F.col(f"r.{d}").alias(d))
               .where(keep))
        return rel.unionByName(hop).distinct()

    return fixpoint(edges.where(keep).distinct(), double,
                    max_rounds=max_rounds, name="doubling_closure")


def _make_local_closure_fn(src: str, dst: str):
    """Build the per-component closure kernel bound to the caller's
    column names (``applyInPandas`` hands the grouped frame WITH its
    grouping column, so positional access would be wrong)."""

    def _local_closure_fn(pdf):
        """Per-component transitive closure inside one task: BFS from
        every source node of the (small, gated) component — O(V·E)
        work, each output pair emitted exactly once (no cross-split
        duplicate generation, unlike doubling)."""
        import pandas as pd

        adj: dict = {}
        for s, o in zip(pdf[src], pdf[dst]):
            adj.setdefault(s, set()).add(o)
        out_s: list = []
        out_o: list = []
        for x, direct in adj.items():
            seen = set(direct)
            frontier = list(direct)
            while frontier:
                nxt = []
                for m in frontier:
                    for y in adj.get(m, ()):
                        if y not in seen:
                            seen.add(y)
                            nxt.append(y)
                frontier = nxt
            out_s.extend([x] * len(seen))
            out_o.extend(seen)
        return pd.DataFrame({src: out_s, dst: out_o})

    return _local_closure_fn


def _components(edges: DataFrame, s: str, d: str) -> DataFrame:
    """(node, component) labels for the weakly-connected components of
    the edge relation (size-gated driver/distributed CC)."""
    return connected_components(
        edges.select(F.col(s).alias("src"), F.col(d).alias("dst")))


def transitive_closure(edges: DataFrame, *,
                       local_max_edges: int | None = None,
                       components: DataFrame | None = None) -> DataFrame:
    """Distinct transitive closure of a two-column relation, sized per
    connected component (the ER-pass architecture,
    kgloom/transcripts/er.py): label components with the size-gated CC
    operator, then close each component ≤ ``local_max_edges`` edges
    *inside one task* via ``applyInPandas`` BFS — embarrassingly
    parallel across components, one shuffle, each closure pair produced
    exactly once.  Components above the gate (a giant region that
    can't sit in one task) fall back to distributed log-round path
    doubling — never broadcast-hinted.

    Real KG chain relations (conversation turn orders, version
    successors, org hierarchies) are exactly the many-small-components
    shape, so the local path is the hot one; the doubling fallback
    keeps a single web-scale component correct rather than fast.

    ``components`` — optional precomputed ``(node, component)`` labels
    covering every source node of ``edges``; passing them skips the CC
    pass (:func:`anchored_closure` computes them anyway to find the
    seeds' components — re-deriving them here would double the
    log-round CC cost)."""
    if local_max_edges is None:
        local_max_edges = CLOSURE_LOCAL_MAX_EDGES
    s, d = edges.columns
    edges = edges.distinct().localCheckpoint()
    comp = components if components is not None else _components(edges, s, d)
    labeled = edges.join(comp.withColumnRenamed("node", s), s)
    sizes = labeled.groupBy("component").agg(
        F.count(F.lit(1)).alias("__n_edges"))
    labeled = labeled.join(sizes, "component")
    # output schema mirrors the input edge types (term IRIs are
    # strings in the SPARQL/reasoning callers, but ER-style int node
    # ids close just as well)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in edges.schema.fields)
    small = (labeled
             .where(F.col("__n_edges") <= local_max_edges)
             .select("component", s, d)
             .groupBy("component")
             .applyInPandas(_make_local_closure_fn(s, d), out_schema))
    big = (labeled.where(F.col("__n_edges") > local_max_edges)
           .select(s, d))
    return small.unionByName(doubling_closure(big))


def anchored_closure(edges: DataFrame, seeds: Sequence[str], *,
                     forward: bool = True,
                     local_max_edges: int | None = None) -> DataFrame:
    """Transitive closure restricted to paths touching ``seeds`` — the
    execution strategy for constant-anchored SPARQL paths
    (``<x> p+ ?o`` / ``?s p+ <x>``).

    ``forward=True`` returns (seed, reachable) pairs; ``forward=False``
    returns (ancestor, seed) pairs (nodes that REACH a seed).

    Instead of materializing the full graph closure and filtering
    (O(closure) work), the edge relation is first restricted to the
    weakly-connected component(s) containing the anchors — one
    log-round CC pass, work linear in the EDGE count, never quadratic
    — and only those components are closed.  For a graph of many
    small components (the conversation-chain shape) this prunes the
    closure work to the anchors' own components; the collected
    component-id list is bounded by ``len(seeds)``.
    """
    s, d = edges.columns
    if not forward:
        flipped = edges.select(F.col(d).alias(s), F.col(s).alias(d))
        closed = anchored_closure(flipped, seeds,
                                  forward=True,
                                  local_max_edges=local_max_edges)
        return closed.select(F.col(d).alias(s), F.col(s).alias(d)) \
            .select(s, d)
    seeds = list(dict.fromkeys(seeds))
    if not seeds:
        return edges.where(F.lit(False)).select(s, d)
    edges = edges.distinct().localCheckpoint()
    comp = _components(edges, s, d)
    seed_comps = [r.component for r in
                  comp.where(F.col("node").isin(seeds))
                  .select("component").distinct().collect()]
    if not seed_comps:  # anchors absent from the graph: no 1+ paths
        return edges.where(F.lit(False)).select(s, d)
    seed_comp = comp.where(F.col("component").isin(seed_comps))
    member = seed_comp.select(F.col("node").alias(s))
    sub = edges.join(member, s, "left_semi")
    return (transitive_closure(sub, local_max_edges=local_max_edges,
                               components=seed_comp)
            .where(F.col(s).isin(seeds)))
