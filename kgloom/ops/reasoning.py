"""KG reasoning over constructed triple/quad DataFrames — RDFS
materialization, owl:sameAs fusion, and SHACL-lite validation.

These are the post-construction semantic passes a KG pipeline runs on
its own output: close the graph under the ontology's subclass /
subproperty / domain / range axioms, fuse nodes the data declares
identical, and validate the result against shape constraints.  The
reference stops at triple emission (serializer → target,
`/root/reference/operator/src/lib.rs`); this module is beyond-reference
surface in the same spirit as the executable SPARQL engine — the
constructed KG stays a first-class, queryable, *reasonable* artifact
without leaving Spark.

Terms are in the engine's rendered lexical form (``<iri>``,
``"lit"[@lang|^^<dt>]``), exactly what the serializer emits and what
``kgloom.sparql`` consumes, so the three engines compose: construct →
reason → query.

RDFS closure — the ρdf fragment (Muñoz, Pérez, Gutierrez, "Minimal
deductive systems for RDF"): rules rdfs5/7 (subPropertyOf transitivity
+ inheritance), rdfs2/3 (domain/range typing), rdfs9/11 (subClassOf
transitivity + inheritance).  Execution is the WebPIE stratification
(Urbani et al., "OWL reasoning with WebPIE: calculating the closure of
100 billion triples"): because ρdf schema vocabulary never appears in
the *conclusion* position of an instance rule (derived triples have
instance predicates or ``rdf:type``, and ``rdf:type`` is assumed not
to be redeclared under ``rdfs:subPropertyOf``), the fixpoint collapses
to ONE pass per rule applied in dependency order:

    sp-closure → rdfs7 → rdfs2/rdfs3 → sc-closure → rdfs9

100-TB design: the schema (ontology) is tiny relative to the instance
data — the sp/sc transitive closures run as log-round path doubling on
the schema relation alone, and every instance-side rule is a single
broadcast hash join of the instance triples against a closed schema
table (no instance-instance joins, no instance fixpoint).  The only
full-width shuffle is the final set-semantics ``distinct``.

owl:sameAs fusion: connected components over the sameAs edge set (the
size-gated driver/distributed CC from ``kgloom.ops.graph``), each
component canonicalized to its lexicographically minimal node, then
one projection rewrites subj/obj through the (small, usually
broadcast) mapping and re-distincts.

SHACL-lite: node shapes with class / subjects-of targets and the core
property constraints (minCount, maxCount, nodeKind, pattern, in,
datatype).  One scan of the triples feeds all shapes; counting
constraints are a single groupBy; value constraints are codegen'd
Column predicates — zero Python in any path.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cache import tracked_persist

RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
RDFS_SUBCLASS = "<http://www.w3.org/2000/01/rdf-schema#subClassOf>"
RDFS_SUBPROP = "<http://www.w3.org/2000/01/rdf-schema#subPropertyOf>"
RDFS_DOMAIN = "<http://www.w3.org/2000/01/rdf-schema#domain>"
RDFS_RANGE = "<http://www.w3.org/2000/01/rdf-schema#range>"
OWL_SAMEAS = "<http://www.w3.org/2002/07/owl#sameAs>"

_SCHEMA_PREDS = (RDFS_SUBCLASS, RDFS_SUBPROP, RDFS_DOMAIN, RDFS_RANGE)


def _transitive_pairs(pairs: DataFrame) -> DataFrame:
    """Distinct transitive closure of a small (a, b) relation —
    broadcast-hinted path doubling from the engine-wide closure module
    (:func:`kgloom.ops.closure.doubling_closure`).  STRICTLY for
    SCHEMA relations (ontology edges — thousands of rows, not
    billions): the broadcast hint ships the whole relation to every
    executor each round, which is the fast path for tiny relations and
    an OOM for instance data.  Instance-scale closures go through the
    size-gated :func:`kgloom.ops.closure.transitive_closure` instead
    (see :func:`owl_property_closure`).

    Self pairs are dropped, and a ``RuntimeError`` is raised if 16
    rounds (2^16-length hierarchies) end before the fixpoint."""
    from .closure import doubling_closure

    return doubling_closure(pairs.select("a", "b"), drop_self=True,
                            broadcast_hint=True, max_rounds=16)


def schema_closure(schema: DataFrame) -> DataFrame:
    """Close a schema triple set under rdfs5 (subPropertyOf
    transitivity) and rdfs11 (subClassOf transitivity); domain/range
    axioms pass through unchanged.  Returns distinct schema triples."""
    schema = schema.select("subj", "pred", "obj")
    sp = _transitive_pairs(schema.where(F.col("pred") == RDFS_SUBPROP)
                           .select(F.col("subj").alias("a"),
                                   F.col("obj").alias("b")))
    sc = _transitive_pairs(schema.where(F.col("pred") == RDFS_SUBCLASS)
                           .select(F.col("subj").alias("a"),
                                   F.col("obj").alias("b")))
    return (schema
            .unionByName(sp.select(F.col("a").alias("subj"),
                                   F.lit(RDFS_SUBPROP).alias("pred"),
                                   F.col("b").alias("obj")))
            .unionByName(sc.select(F.col("a").alias("subj"),
                                   F.lit(RDFS_SUBCLASS).alias("pred"),
                                   F.col("b").alias("obj")))
            .distinct())


def rdfs_closure(triples: DataFrame, schema: Optional[DataFrame] = None,
                 include_schema: bool = True) -> DataFrame:
    """Materialize the ρdf/RDFS closure of ``triples`` (columns subj,
    pred, obj in rendered term form).

    ``schema`` — the ontology triples (subPropertyOf / subClassOf /
    domain / range).  When None, schema triples are extracted from
    ``triples`` itself (and instance rules run over the remainder).
    ``include_schema`` — include the (closed) schema triples in the
    output, matching what a full materialization of the input graph
    contains; False returns only instance-level triples.

    One broadcast join per rule, one final distinct — see module
    docstring for the stratification argument.
    """
    if schema is None:
        schema = (triples.where(F.col("pred").isin(*_SCHEMA_PREDS))
                  .select("subj", "pred", "obj"))
        inst = triples.where(~F.col("pred").isin(*_SCHEMA_PREDS))
    else:
        schema = schema.select("subj", "pred", "obj")
        inst = triples
    # schema feeds five branches (sp/sc closures, domain, range, the
    # include_schema union) — persist it too, or each branch re-runs
    # the upstream construction just to filter out a handful of
    # schema triples (tracked, same policy as inst below)
    schema = tracked_persist(schema)
    # the instance set feeds every rule branch (rdfs7 join, the
    # inst_all union, domain/range joins, the type scan, the output
    # union) — persist it once or each branch re-runs the upstream
    # construction (term templating over the raw table); MEMORY_AND_DISK
    # so it spills rather than OOMs at scale, released via
    # unpersist_tracked() (the WebPIE equivalent materializes this
    # intermediate to HDFS between jobs)
    inst = tracked_persist(inst.select("subj", "pred", "obj"))

    sp = tracked_persist(_transitive_pairs(
        schema.where(F.col("pred") == RDFS_SUBPROP)
        .select(F.col("subj").alias("a"), F.col("obj").alias("b"))))
    sc = tracked_persist(_transitive_pairs(
        schema.where(F.col("pred") == RDFS_SUBCLASS)
        .select(F.col("subj").alias("a"), F.col("obj").alias("b"))))

    # rdfs7: (s p o), (p sp+ q) ⇒ (s q o) — broadcast the closed schema
    derived_sp = (inst.join(F.broadcast(sp), inst["pred"] == sp["a"])
                  .select("subj", F.col("b").alias("pred"), "obj"))
    inst_all = inst.unionByName(derived_sp)

    # rdfs2: (s p o), (p domain C) ⇒ (s type C)
    dom = (schema.where(F.col("pred") == RDFS_DOMAIN)
           .select(F.col("subj").alias("p"), F.col("obj").alias("c"))
           .distinct())
    derived_dom = (inst_all.join(F.broadcast(dom),
                                 inst_all["pred"] == dom["p"])
                   .select(F.col("subj"), F.lit(RDF_TYPE).alias("pred"),
                           F.col("c").alias("obj")))

    # rdfs3: (s p o), (p range C), o is a resource ⇒ (o type C)
    rng = (schema.where(F.col("pred") == RDFS_RANGE)
           .select(F.col("subj").alias("p"), F.col("obj").alias("c"))
           .distinct())
    derived_rng = (inst_all.join(F.broadcast(rng),
                                 inst_all["pred"] == rng["p"])
                   .where(F.col("obj").startswith("<"))
                   .select(F.col("obj").alias("subj"),
                           F.lit(RDF_TYPE).alias("pred"),
                           F.col("c").alias("obj")))

    # rdfs9: (s type C), (C sc+ D) ⇒ (s type D) — over BOTH asserted
    # and domain/range-derived types (the stratification's last layer)
    types = (inst_all.where(F.col("pred") == RDF_TYPE)
             .unionByName(derived_dom).unionByName(derived_rng))
    derived_sc = (types.join(F.broadcast(sc), types["obj"] == sc["a"])
                  .select(types["subj"], F.lit(RDF_TYPE).alias("pred"),
                          F.col("b").alias("obj")))

    out = (inst_all.unionByName(derived_dom).unionByName(derived_rng)
           .unionByName(derived_sc))
    if include_schema:
        closed_schema = (schema
                         .unionByName(sp.select(
                             F.col("a").alias("subj"),
                             F.lit(RDFS_SUBPROP).alias("pred"),
                             F.col("b").alias("obj")))
                         .unionByName(sc.select(
                             F.col("a").alias("subj"),
                             F.lit(RDFS_SUBCLASS).alias("pred"),
                             F.col("b").alias("obj"))))
        out = out.unionByName(closed_schema)
    return out.distinct()


OWL_EQUIV_CLASS = "<http://www.w3.org/2002/07/owl#equivalentClass>"
OWL_EQUIV_PROP = "<http://www.w3.org/2002/07/owl#equivalentProperty>"

_EQUIV_PREDS = (OWL_EQUIV_CLASS, OWL_EQUIV_PROP)


def owl_equivalence_closure(triples: DataFrame,
                            schema: Optional[DataFrame] = None,
                            include_schema: bool = True,
                            instance_equiv_free: bool = False) -> DataFrame:
    """OWL-Horst equivalence rules rdfp12a/b/c + rdfp13a/b/c (ter Horst
    2005) layered on the ρdf closure:

    * rdfp12a/b: ``(v owl:equivalentClass w)`` ⇒ ``(v subClassOf w)``
      and ``(w subClassOf v)`` — likewise rdfp13a/b for
      ``owl:equivalentProperty`` / ``subPropertyOf``;
    * rdfp12c/13c: mutual subsumption in the CLOSED hierarchy derives
      the equivalence back — ``(v sc+ w), (w sc+ v)`` ⇒
      ``(v equivalentClass w)`` (so equivalence chains close
      symmetrically and transitively for free, and mutual-subsumption
      cycles asserted WITHOUT any equivalence axiom still surface as
      equivalences).

    Execution: the equivalence axioms are rewritten into
    both-direction subsumption edges feeding the ONE-PASS stratified
    :func:`rdfs_closure` (schema-level rewrite, ontology-sized); the
    back-derivation is a self-join of the closed sc/sp relation with
    itself on swapped columns — also schema-sized, broadcast.  No new
    instance-side work beyond the ρdf pass itself; instance types lift
    across equivalent classes via rdfs9 and instance edges generalize
    across equivalent properties via rdfs7, both directions.

    Reflexive conclusions (``v sc v``, ``v equivalentClass v``) are
    dropped, consistent with the engine-wide ``drop_self`` closure
    semantics; the naive-fixpoint property test
    (``tests/test_closure.py``) compares modulo self-pairs.

    ``instance_equiv_free`` (explicit-schema callers only): promise
    that ``triples`` carries NO equivalence-predicate rows — they all
    came via ``schema`` — which skips a distinct over the ENTIRE
    closed KG (the output is then distinct by construction: the
    rdfp12c/13c rows are the only equivalence-predicate rows).  At
    10^9 instance triples that distinct is a full extra shuffle; any
    mapping pipeline that controls its emitted predicates can assert
    this safely.  With ``schema=None`` the split strips equivalence
    rows from the instance side itself, so the flag is irrelevant and
    no distinct is needed either way.

    Matches the reference's OWL-fragment ambition level (the reference
    stops at triple emission; this module is beyond-reference surface,
    see module docstring)."""
    explicit_schema = schema is not None
    if schema is None:
        schema_preds = _SCHEMA_PREDS + _EQUIV_PREDS
        schema = (triples.where(F.col("pred").isin(*schema_preds))
                  .select("subj", "pred", "obj"))
        inst = triples.where(~F.col("pred").isin(*schema_preds))
    else:
        schema = schema.select("subj", "pred", "obj")
        inst = triples
    schema = tracked_persist(schema)

    def _expand(eq_pred: str, sub_pred: str) -> DataFrame:
        eq = schema.where(F.col("pred") == eq_pred)
        return (eq.select("subj", F.lit(sub_pred).alias("pred"), "obj")
                .unionByName(eq.select(F.col("obj").alias("subj"),
                                       F.lit(sub_pred).alias("pred"),
                                       F.col("subj").alias("obj"))))

    aug = (schema.where(~F.col("pred").isin(*_EQUIV_PREDS))
           .unionByName(_expand(OWL_EQUIV_CLASS, RDFS_SUBCLASS))
           .unionByName(_expand(OWL_EQUIV_PROP, RDFS_SUBPROP))
           .distinct())
    aug = tracked_persist(aug)
    # with an explicit schema the caller's triples pass through as
    # instance data wholesale — equivalence assertions left there (not
    # routed via `schema`) could collide with the rdfp12c/13c rows;
    # only that case pays the full-closure distinct below
    inst_has_equiv = explicit_schema and not instance_equiv_free
    out = rdfs_closure(inst, schema=aug, include_schema=include_schema)

    if include_schema:
        # rdfp12c/13c: (a R+ b), (b R+ a), a≠b ⇒ (a eq b) — both
        # orientations arrive naturally since (a,b) and (b,a) are both
        # mutual. Schema-sized self-join, broadcast.
        def _mutual(sub_pred: str, eq_pred: str) -> DataFrame:
            closed = _transitive_pairs(
                aug.where(F.col("pred") == sub_pred)
                .select(F.col("subj").alias("a"), F.col("obj").alias("b")))
            rev = closed.select(F.col("b").alias("a"), F.col("a").alias("b"))
            return (closed.join(F.broadcast(rev), ["a", "b"], "left_semi")
                    .select(F.col("a").alias("subj"),
                            F.lit(eq_pred).alias("pred"),
                            F.col("b").alias("obj")))

        # the two mutual branches carry disjoint predicates, each is
        # distinct (closed pairs are a set), and rdfs_closure's output
        # is distinct and — when equivalence axioms were stripped into
        # `aug` — contains NO equivalence-predicate rows.  The union is
        # therefore distinct by construction; re-shuffling the whole
        # closed KG is only needed when caller-supplied instance
        # triples carry equivalence assertions (probed above).
        out = (out.unionByName(_mutual(RDFS_SUBCLASS, OWL_EQUIV_CLASS))
               .unionByName(_mutual(RDFS_SUBPROP, OWL_EQUIV_PROP)))
        if inst_has_equiv:
            out = out.distinct()
    return out


OWL_INVERSE_OF = "<http://www.w3.org/2002/07/owl#inverseOf>"
OWL_SYMMETRIC = "<http://www.w3.org/2002/07/owl#SymmetricProperty>"
OWL_TRANSITIVE = "<http://www.w3.org/2002/07/owl#TransitiveProperty>"


def _owl_propagation_map(axiom_rows: list) -> list:
    """Driver-side closure of the {rdfp3, rdfp8} rule system at the
    SCHEMA level.  An edge ``(a, p, b)`` derives, via any chain of
    symmetric expansions and inverse exchanges, edges on other
    properties with an orientation; each single rule application is one
    transition of the automaton over states ``(property, flipped)``:

    * ``p owl:inverseOf q`` (either direction):
      ``(p, f) → (q, not f)``
    * ``p a owl:SymmetricProperty``: ``(p, f) → (p, not f)``

    BFS from ``(p, False)`` for every property mentioned in an axiom
    yields the COMPLETE sym/inv rule closure as a static map
    ``(p, r, flipped)`` — including the compositions a single ordered
    pass misses (an inverse-fed symmetric property, a chain
    inv∘sym∘inv landing back on ``p`` reversed).  Axioms are
    ontology-sized, so this runs on the driver over the collected
    axiom rows (bounded, like the transitive-property list).

    Returns the map WITHOUT the trivial identity rows (p, p, False).
    """
    sym = {s for s, p, o in axiom_rows
           if p == RDF_TYPE and o == OWL_SYMMETRIC}
    inv: dict = {}
    for s, p, o in axiom_rows:
        if p == OWL_INVERSE_OF:
            inv.setdefault(s, set()).add(o)
            inv.setdefault(o, set()).add(s)
    props = sym | set(inv)
    out = []
    for p in sorted(props):
        seen = {(p, False)}
        frontier = [(p, False)]
        while frontier:
            nxt = []
            for (r, f) in frontier:
                steps = [(q, not f) for q in inv.get(r, ())]
                if r in sym:
                    steps.append((r, not f))
                for st in steps:
                    if st not in seen:
                        seen.add(st)
                        nxt.append(st)
            frontier = nxt
        out.extend((p, r, f) for (r, f) in sorted(seen) if (r, f) != (p, False))
    return out


#: separator for the (property, node) composite closure keys below —
#: cannot appear in a rendered RDF term
_PRED_SEP = "\x00"


def owl_property_closure(triples: DataFrame, schema: DataFrame
                         ) -> DataFrame:
    """Materialize the OWL-Horst (pD*) PROPERTY rules over ``triples``:
    rdfp8 (``owl:inverseOf``, both directions), rdfp3
    (``owl:SymmetricProperty``) and rdfp4 (``owl:TransitiveProperty``).
    ``schema`` holds the axiom triples; returns the closed instance
    triples (distinct), axioms not included.  Matches the naive
    fixpoint of the three rules (property-tested,
    ``tests/test_reasoning.py``).

    Execution is one pass, no instance fixpoint:

    1. the {rdfp3, rdfp8} rule system is closed at the SCHEMA level
       into a static propagation map (:func:`_owl_propagation_map`) —
       one broadcast join then copies every instance edge to every
       property/orientation the rules can carry it to;
    2. each ``owl:TransitiveProperty``'s edges are closed with the
       size-gated distributed closure
       (:func:`kgloom.ops.closure.transitive_closure`) — ALL
       transitive properties in ONE call, components keyed by
       ``(property, node)`` so chains of different properties never
       merge; NEVER broadcast (instance edge sets can be billions of
       rows at target scale);
    3. the propagation map is re-applied once to the closure-derived
       edges.

    Why one pass reaches the fixpoint: after step 1 every transitive
    property ``t`` holds the full sym/inv image of its component's
    edges, so step 2 computes closure(image).  Step 3's new edges are
    ``map(closure(image))``; mapping them back into any transitive
    ``t'`` gives ``flipⁿ(closure(image(t)))`` = ``closure(image(t'))``
    (transitive closure commutes with edge inversion, and when both
    orientations are reachable — a symmetric member or an odd inverse
    cycle — the step-1 image is already symmetric, whose closure is
    symmetric), i.e. nothing a further transitive round could add; and
    {rdfp3, rdfp8} were closed exhaustively by the map itself.

    100-TB design: only the AXIOM rows (ontology-sized) reach the
    driver; the propagation map is a broadcast join; the instance
    closure is component-gated local BFS with a distributed-doubling
    fallback — no broadcast of instance data anywhere."""
    inst = tracked_persist(triples.select("subj", "pred", "obj"))

    axiom_rows = [(r.subj, r.pred, r.obj) for r in
                  schema.where(
                      ((F.col("pred") == RDF_TYPE)
                       & F.col("obj").isin(OWL_SYMMETRIC, OWL_TRANSITIVE))
                      | (F.col("pred") == OWL_INVERSE_OF))
                  .select("subj", "pred", "obj").distinct().collect()]
    prop_map = _owl_propagation_map(axiom_rows)
    trans_props = sorted({s for s, p, o in axiom_rows
                          if p == RDF_TYPE and o == OWL_TRANSITIVE})

    pmap = triples.sparkSession.createDataFrame(
        prop_map, "p string, r string, flip boolean") if prop_map else None

    def propagate(edges: DataFrame) -> DataFrame:
        """Copy every edge to each property and orientation the map
        carries it to — one broadcast join."""
        return (edges.join(F.broadcast(pmap), edges["pred"] == pmap["p"])
                .select(F.when(F.col("flip"), F.col("obj"))
                        .otherwise(F.col("subj")).alias("subj"),
                        F.col("r").alias("pred"),
                        F.when(F.col("flip"), F.col("subj"))
                        .otherwise(F.col("obj")).alias("obj")))

    all_edges = tracked_persist(
        inst.unionByName(propagate(inst)).distinct() if prop_map else inst)

    out = all_edges
    if trans_props:
        from .closure import transitive_closure

        # ALL transitive properties in one size-gated closure call:
        # key nodes by (property, node) so per-property chains stay in
        # separate components; \x00 cannot occur in a rendered term
        keyed = (all_edges.where(F.col("pred").isin(trans_props))
                 .select(F.concat("pred", F.lit(_PRED_SEP), "subj")
                         .alias("a"),
                         F.concat("pred", F.lit(_PRED_SEP), "obj")
                         .alias("b")))
        closed = transitive_closure(keyed)
        split_a = F.split(F.col("a"), _PRED_SEP, 2)
        split_b = F.split(F.col("b"), _PRED_SEP, 2)
        derived = closed.select(
            split_a.getItem(1).alias("subj"),
            split_a.getItem(0).alias("pred"),
            split_b.getItem(1).alias("obj"))
        out = out.unionByName(derived)
        if prop_map:
            out = out.unionByName(propagate(derived))
    return out.distinct()


OWL_FUNCTIONAL = "<http://www.w3.org/2002/07/owl#FunctionalProperty>"
OWL_INV_FUNCTIONAL = \
    "<http://www.w3.org/2002/07/owl#InverseFunctionalProperty>"


def ifp_same_as(triples: DataFrame, schema: DataFrame,
                max_group: int = 1000) -> DataFrame:
    """OWL-Horst rules rdfp1/rdfp2 (ter Horst 2005): derive
    ``owl:sameAs`` edges from functional / inverse-functional property
    axioms — the OWL-semantics formulation of entity-resolution
    blocking.  ``p rdf:type owl:InverseFunctionalProperty`` ⇒ two
    subjects sharing a (p, object) are the same individual (rdfp2);
    ``p rdf:type owl:FunctionalProperty`` ⇒ two objects of the same
    (subject, p) are the same (rdfp1, restricted to non-literal
    objects — sameAs between literals is not a meaningful identity).

    Returns rendered ``(subj, owl:sameAs, obj)`` edges with ``subj <
    obj`` (each unordered pair once), ready to union into the store
    and feed :func:`same_as_fusion` / the incremental streaming
    fusion.

    100-TB shape: each rule is ONE hash self-join keyed on the shared
    (property, value) pair after a broadcast semi-join against the
    (tiny) axiom set.  The skew guard mirrors the LSH band-bucket cap
    (`kgloom/ops/dedup.py`): a key shared by n subjects yields C(n,2)
    pairs, so keys over ``max_group`` members (a null-ish placeholder
    value, a default email) are dropped — at that group size the key
    carries no identity signal anyway.  ``max_group=None`` disables
    the cap."""
    def _rule(keyed: DataFrame) -> DataFrame:
        # keyed: (k1, k2, node) — pairs of nodes sharing the key
        if max_group is not None:
            big = (keyed.groupBy("k1", "k2")
                   .agg(F.count(F.lit(1)).alias("__n"))
                   .where(F.col("__n") > max_group)
                   .drop("__n"))
            keyed = keyed.join(big, ["k1", "k2"], "left_anti")
        a = keyed.alias("a")
        b = keyed.alias("b")
        return (a.join(b, ["k1", "k2"])
                .where(F.col("a.node") < F.col("b.node"))
                .select(F.col("a.node").alias("subj"),
                        F.lit(OWL_SAMEAS).alias("pred"),
                        F.col("b.node").alias("obj")))

    ifp = (schema.where((F.col("pred") == RDF_TYPE)
                        & (F.col("obj") == OWL_INV_FUNCTIONAL))
           .select(F.col("subj").alias("__p")))
    fp = (schema.where((F.col("pred") == RDF_TYPE)
                       & (F.col("obj") == OWL_FUNCTIONAL))
          .select(F.col("subj").alias("__p")))
    by_obj = (triples.join(F.broadcast(ifp),
                           triples["pred"] == ifp["__p"], "left_semi")
              .select(F.col("pred").alias("k1"), F.col("obj").alias("k2"),
                      F.col("subj").alias("node")).distinct())
    by_subj = (triples.join(F.broadcast(fp),
                            triples["pred"] == fp["__p"], "left_semi")
               .where(~F.col("obj").startswith('"'))
               .select(F.col("pred").alias("k1"),
                       F.col("subj").alias("k2"),
                       F.col("obj").alias("node")).distinct())
    return _rule(by_obj).unionByName(_rule(by_subj)).distinct()


def same_as_components(triples: DataFrame,
                       same_as_pred: str = OWL_SAMEAS) -> DataFrame:
    """(node, canonical) for every node in a non-singleton owl:sameAs
    component; canonical = the component's lexicographically minimal
    node.  Components come from the size-gated driver/distributed CC
    pass (:func:`kgloom.ops.graph.connected_components`)."""
    from .graph import connected_components
    pairs = (triples.where(F.col("pred") == same_as_pred)
             .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
             .where(F.col("src") != F.col("dst")))
    comp = connected_components(pairs)
    return comp.select(F.col("node"), F.col("component").alias("canonical"))


def rewrite_canonical(data: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite every subject and object through a ``(node, canonical)``
    alias map (left joins; unmapped terms pass through) and re-distinct
    (rewrites collapse formerly distinct triples).  Extra columns (e.g.
    ``graph`` on quad input) pass through untouched and participate in
    the final distinct.

    100-TB design: the mapping is one row per aliased node — orders of
    magnitude smaller than the triple stream — so both rewrite joins
    broadcast (AQE decides; no hint forced for the rare huge-alias
    case, where a hash join on subj/obj is the right fallback)."""
    rest = [c for c in data.columns if c not in ("subj", "pred", "obj")]
    m_s = mapping.select(F.col("node").alias("__sn"),
                         F.col("canonical").alias("__sc"))
    m_o = mapping.select(F.col("node").alias("__on"),
                         F.col("canonical").alias("__oc"))
    return (data
            .join(m_s, data["subj"] == m_s["__sn"], "left")
            .join(m_o, data["obj"] == m_o["__on"], "left")
            .select(F.coalesce("__sc", "subj").alias("subj"),
                    F.col("pred"),
                    F.coalesce("__oc", "obj").alias("obj"), *rest)
            .distinct())


def same_as_fusion(triples: DataFrame,
                   same_as_pred: str = OWL_SAMEAS) -> DataFrame:
    """Fuse owl:sameAs-equal nodes: drop the sameAs triples, rewrite
    every subject and object to its component canonical via
    ``rewrite_canonical``."""
    mapping = tracked_persist(
        same_as_components(triples, same_as_pred)
        .where(F.col("node") != F.col("canonical")))
    data = triples.where(F.col("pred") != same_as_pred)
    return rewrite_canonical(data, mapping)


# ---------------------------------------------------------------------------
# SHACL-lite
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class PropertyShape:
    """Core SHACL property constraints over one predicate path.

    ``path`` — predicate IRI in rendered form.  Constraint fields are
    each optional; ``None`` means unconstrained.  ``node_kind`` is one
    of "IRI" / "Literal" / "BlankNode" (rendered-form prefix test);
    ``pattern`` is a regex over the value's rendered lexical form;
    ``in_values`` is a set of allowed rendered terms; ``datatype`` is
    a datatype IRI the literal must carry (``^^<dt>`` suffix);
    ``class_iri`` requires every value to be a direct ``rdf:type``
    instance of the class (validate the RDFS-closed graph for
    subclass semantics — composition, not reimplementation);
    ``has_value`` requires the term among the focus's values;
    ``min_inclusive`` / ``max_inclusive`` bound the numeric lexical
    form (non-numeric values violate, per SHACL's value-node
    comparability rule)."""
    path: str
    min_count: Optional[int] = None
    max_count: Optional[int] = None
    node_kind: Optional[str] = None
    pattern: Optional[str] = None
    in_values: Optional[tuple[str, ...]] = None
    datatype: Optional[str] = None
    class_iri: Optional[str] = None
    has_value: Optional[str] = None
    min_inclusive: Optional[float] = None
    max_inclusive: Optional[float] = None


@dataclass(frozen=True)
class NodeShape:
    """A SHACL node shape: focus nodes via ``target_class`` (subjects
    with ``rdf:type target_class``) and/or ``target_subjects_of``
    (subjects of a predicate), validated against ``properties``."""
    name: str
    target_class: Optional[str] = None
    target_subjects_of: Optional[str] = None
    properties: tuple[PropertyShape, ...] = ()


def shacl_validate(triples: DataFrame,
                   shapes: tuple[NodeShape, ...]) -> DataFrame:
    """Validation report: one row per violation with columns
    (focus, shape, path, constraint, value) — ``value`` is the
    offending term for value constraints and the offending cardinality
    (as a string) for count constraints.

    Plan shape: focus sets and the path-filtered value scan are
    persisted once per shape and fan out to every constraint; counting
    constraints share one groupBy; all value tests are Column
    predicates (codegen, no Python).
    """
    spark = triples.sparkSession
    reports: list[DataFrame] = []
    for shape in shapes:
        focus = None
        if shape.target_class is not None:
            focus = (triples.where((F.col("pred") == RDF_TYPE)
                                   & (F.col("obj") == shape.target_class))
                     .select(F.col("subj").alias("focus")))
        if shape.target_subjects_of is not None:
            by_pred = (triples
                       .where(F.col("pred") == shape.target_subjects_of)
                       .select(F.col("subj").alias("focus")))
            focus = by_pred if focus is None else focus.unionByName(by_pred)
        if focus is None:
            raise ValueError(f"shape {shape.name!r} has no target")
        focus = tracked_persist(focus.distinct())

        paths = sorted({p.path for p in shape.properties})
        if not paths:
            continue
        vals = tracked_persist(
            triples.where(F.col("pred").isin(paths))
            .select(F.col("subj").alias("focus"), "pred",
                    F.col("obj").alias("value"))
            .join(focus, "focus"))
        # one count per (focus, path), zero-filled over the focus×path
        # grid (the paths list is a tiny literal table — broadcast)
        grid = focus.crossJoin(F.broadcast(
            spark.createDataFrame([(p,) for p in paths], "pred string")))
        counts = (vals.groupBy("focus", "pred")
                  .agg(F.count(F.lit(1)).alias("n")))
        counts = (grid.join(counts, ["focus", "pred"], "left")
                  .select("focus", "pred",
                          F.coalesce("n", F.lit(0)).alias("n")))

        for ps in shape.properties:
            def _report(df: DataFrame, constraint: str,
                        value: Column) -> DataFrame:
                return df.select(
                    F.col("focus"), F.lit(shape.name).alias("shape"),
                    F.lit(ps.path).alias("path"),
                    F.lit(constraint).alias("constraint"),
                    value.alias("value"))

            cnt = counts.where(F.col("pred") == ps.path)
            if ps.min_count is not None:
                reports.append(_report(
                    cnt.where(F.col("n") < ps.min_count), "minCount",
                    F.col("n").cast("string")))
            if ps.max_count is not None:
                reports.append(_report(
                    cnt.where(F.col("n") > ps.max_count), "maxCount",
                    F.col("n").cast("string")))

            v = vals.where(F.col("pred") == ps.path)
            if ps.node_kind is not None:
                ok = {"IRI": F.col("value").startswith("<"),
                      "BlankNode": F.col("value").startswith("_:"),
                      "Literal": F.col("value").startswith('"')}[ps.node_kind]
                reports.append(_report(v.where(~ok), "nodeKind",
                                       F.col("value")))
            if ps.pattern is not None:
                reports.append(_report(
                    v.where(~F.col("value").rlike(ps.pattern)), "pattern",
                    F.col("value")))
            if ps.in_values is not None:
                reports.append(_report(
                    v.where(~F.col("value").isin(list(ps.in_values))), "in",
                    F.col("value")))
            if ps.datatype is not None:
                suffix = "^^" + ps.datatype
                ok = (F.col("value").startswith('"')
                      & F.col("value").endswith(suffix))
                reports.append(_report(v.where(~ok), "datatype",
                                       F.col("value")))
            if ps.class_iri is not None:
                # one class's instance set is small relative to the
                # triple stream — AQE broadcasts the anti-join side
                instances = (triples
                             .where((F.col("pred") == RDF_TYPE)
                                    & (F.col("obj") == ps.class_iri))
                             .select(F.col("subj").alias("value"))
                             .distinct())
                reports.append(_report(
                    v.join(instances, "value", "left_anti"), "class",
                    F.col("value")))
            if ps.has_value is not None:
                present = (v.where(F.col("value") == ps.has_value)
                           .select("focus").distinct())
                reports.append(_report(
                    focus.join(present, "focus", "left_anti"), "hasValue",
                    F.lit(ps.has_value)))
            # try_cast: non-numeric lexical forms become NULL (then
            # violate) instead of failing the job under ANSI mode
            num = F.regexp_extract(F.col("value"), r'^"([^"]*)"', 1) \
                .try_cast("double")
            if ps.min_inclusive is not None:
                # non-numeric values violate each range component
                # independently (SHACL comparability rule)
                reports.append(_report(
                    v.where(~(num.isNotNull()
                              & (num >= ps.min_inclusive))),
                    "minInclusive", F.col("value")))
            if ps.max_inclusive is not None:
                reports.append(_report(
                    v.where(~(num.isNotNull()
                              & (num <= ps.max_inclusive))),
                    "maxInclusive", F.col("value")))

    if not reports:
        return spark.createDataFrame(
            [], "focus string, shape string, path string, "
                "constraint string, value string")
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out
