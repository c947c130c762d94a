"""RML Document → operator Plan compiler.

Parity target: `OptimizedRMLDocumentTranslator::translate_to_plan`
(`/root/reference/translator/src/rmlalgebra/mod.rs:34-120`) and its
helpers:

- per-TriplesMap Source + Projection (mod.rs:314-428; projection =
  term-map references + incoming join-condition parent attrs +
  same-row parent subject references, util.rs:11-40),
- variable map ``tm{i}_sm`` / ``tm{i}_p{pom}_{pm}`` / ``tm{i}_o{pom}_{om}``
  / ``..._gm{g}`` (translator/src/rmlalgebra/util.rs:268-340),
- object-map classification (the reference's POM partitioning into
  join/non-join, mod.rs:122-147, done per object map), in one pass that
  also collects every Projection's attributes.  Each object map is one
  of three kinds:

  * plain — a column of its TriplesMap's own Extend;
  * same-row — a referencing object map whose parent shares the logical
    source and has no join condition: also a column of the child's own
    Extend (the deviation below);
  * join — an inner equi-join on its join condition, else a cross join
    (mod.rs:249-261), alias ``join_{n}``, parent subject-map attribute
    prefixing (mod.rs:263-266), then its own Extend (mod.rs:203-313),

  so every object map of a POM generates triples (R2RML §11.1), whatever
  kinds its siblings are,
- own branch: Extend → Serializer → Target (mod.rs:149-201), built when
  the TriplesMap has classes or plain/same-row object maps,
- fan-out (plan.rs:284-313, fragment.rs:18-34): a TriplesMap's
  Projection has one reader per branch emitted from it — its own Extend
  and each join it takes part in, as child or as parent — and a
  FragmentOp with one output per reader when there are several,
- ``rml:logicalTarget`` routing (util.rs:137-236 generate_lt_quads +
  sanitize): per-term-map targets receive their quads through per-target
  Serializer→Target branches fanned out by a FragmentOp; term maps
  without targets route to the default target.

Spark-first deviation (documented, semantics-preserving): the reference
emits a *NaturalJoin* when child and parent share a logical source with
no join condition (RMLTC0008b).  R2RML §8 gives that case same-row
semantics (identical child/parent queries ⇒ the joint query is the child
query), so we compile it to a plain Extend over the child rows — zero
shuffle instead of a self-join — while keeping NaturalJoin executable in
the binder for IR completeness.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator, Optional

from ..algebra import (
    DataFormat,
    ExtendOp,
    FragmentOp,
    Function,
    IOType,
    IterField,
    ProjectOp,
    ReferenceFormulation,
    SerializerOp,
    SourceIterator,
    SourceOp,
    TargetOp,
)
from ..plan import DEFAULT_FRAGMENT, Plan, PlanGraph, join as plan_join
from .model import (
    DEFAULT_TARGET_ID,
    KIND_BLANK,
    KIND_IRI,
    KIND_LITERAL,
    TM_CONSTANT,
    TM_FUNCTION,
    TM_REFERENCE,
    TM_TEMPLATE,
    Document,
    GraphMap,
    LogicalTarget,
    PredicateObjectMap,
    TermMapInfo,
    TriplesMap,
)

RDF_TYPE_IRI = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

_FORMULATION_MAP = {
    "CSVRows": ReferenceFormulation.CSV_ROWS,
    "JSONPath": ReferenceFormulation.JSON_PATH,
    "XMLPath": ReferenceFormulation.XML_PATH,
    "SQLQuery": ReferenceFormulation.SQL_QUERY,
    "Table": ReferenceFormulation.TABLE,
}


@dataclass
class Quad:
    """One serializer BGP line: variables naming extend columns.

    graph_var None ⇒ triple in the default graph.
    """

    s_var: str
    p_var: str
    o_var: str
    g_var: Optional[str] = None

    def to_line(self) -> str:
        parts = [f"?{self.s_var}", f"?{self.p_var}", f"?{self.o_var}"]
        if self.g_var is not None:
            parts.append(f"?{self.g_var}")
        return " ".join(parts) + " ."


@dataclass
class CompiledMapping:
    """The full compiled artifact: operator DAG + bookkeeping maps."""

    graph: PlanGraph
    variable_map: dict[str, str] = field(default_factory=dict)
    base: Optional[str] = None


def _value_function(tm_info: TermMapInfo, base: Optional[str]) -> Function:
    if tm_info.term_map_type == TM_CONSTANT:
        return Function.constant(tm_info.term_value)
    if tm_info.term_map_type == TM_REFERENCE:
        return Function.reference(tm_info.term_value)
    if tm_info.term_map_type == TM_TEMPLATE:
        return Function.template(tm_info.term_value)
    if tm_info.term_map_type == TM_FUNCTION:
        return Function.fno(
            tm_info.fun_map.function_iri,
            {p: _value_function(om.tm_info, base)
             for p, om in tm_info.fun_map.param_om_pairs})
    raise ValueError(tm_info.term_map_type)


def _term_function(tm_info: TermMapInfo, base: Optional[str],
                   data_type: Optional[str] = None,
                   language: Optional[str] = None) -> Function:
    """Mirror extract_function + term-kind wrapping
    (translator/src/rmlalgebra/operators/extend.rs:50-111), with the
    golden-corpus refinement that percent-encoding applies to
    template-substituted values only (RMLTC0019a vs RMLTC0020a: a
    reference-valued IRI is not encoded, a template substitution is —
    handled inside the binder's TemplateString compiler via the
    ``UriEncode`` wrapper being interpreted per-part for templates).
    An FnO function's parameters stay raw value functions: the wrapper
    applies to the function's result, not its inputs."""
    inner = _value_function(tm_info, base)
    if tm_info.term_type == KIND_IRI:
        if tm_info.term_map_type == TM_CONSTANT:
            # constant IRIs are already resolved absolute IRIs — no
            # encoding, no base resolution
            return Function.iri(inner)
        if tm_info.term_map_type == TM_TEMPLATE:
            # encode substituted values only, then resolve against base
            return Function.iri(Function.uri_encode(inner), base=base)
        # reference / function values: no percent-encoding (RMLTC0019a),
        # but relative results resolve against base
        return Function.iri(inner, base=base)
    if tm_info.term_type == KIND_LITERAL:
        return Function.literal(
            inner,
            dtype=Function.constant(data_type) if data_type else None,
            langtype=Function.constant(language) if language else None)
    if tm_info.term_type == KIND_BLANK:
        return Function.blank_node(inner)
    raise ValueError(tm_info.term_type)


class _LtRouter:
    """rml:logicalTarget quad routing (generate_lt_quads_from_spo,
    translator/src/rmlalgebra/util.rs:137-200 + generate_logtarget_map
    util.rs:238-268): a subject map's targets receive every quad of its
    TriplesMap; a predicate/object map's targets receive the quads that
    term map participates in.  Term maps without targets route to the
    implicit default target (term_map_info_extractor.rs:117-119)."""

    def __init__(self, default_target: TargetOp):
        self.default_target = default_target
        self.registry: dict[str, LogicalTarget] = {}

    def route_ids(self, *tm_infos: TermMapInfo) -> tuple[str, ...]:
        ids: list[str] = []
        for info in tm_infos:
            lts = info.logical_targets or ()
            for lt in lts:
                self.registry.setdefault(lt.identifier, lt)
                if lt.identifier not in ids:
                    ids.append(lt.identifier)
            if not lts and DEFAULT_TARGET_ID not in ids:
                ids.append(DEFAULT_TARGET_ID)
        return tuple(ids)

    def target_op(self, lt_id: str) -> TargetOp:
        if lt_id == DEFAULT_TARGET_ID:
            return self.default_target
        lt = self.registry[lt_id]
        return TargetOp.make(dict(lt.config), IOType(lt.output_type),
                             DataFormat(lt.serialization))

    def sink_quads(self, plan: Plan, lt_quads: dict[str, list[Quad]]) -> None:
        """Serialize + sink the extended plan once per populated target
        (deduplicated per target by the serializer's RDF set semantics);
        multiple targets fan out through a FragmentOp, mirroring the
        plan shape the reference builds (add_non_join_related_op,
        translator/src/rmlalgebra/mod.rs:149-201)."""
        populated = [(lt_id, qs) for lt_id, qs in lt_quads.items() if qs]
        if len(populated) > 1:
            frags = [f"lt_{k}" for k in range(len(populated))]
            plan = plan.fragment(FragmentOp(
                from_fragment=plan.frag,
                to_fragments=tuple([plan.frag] + frags[1:])))
        for k, (lt_id, qs) in enumerate(populated):
            branch = plan if len(populated) == 1 or k == 0 else \
                plan.with_fragment(f"lt_{k}")
            fmt = DataFormat.NQUADS if lt_id == DEFAULT_TARGET_ID else \
                DataFormat(self.registry[lt_id].serialization)
            template = "\n".join(q.to_line() for q in qs)
            branch.serialize(SerializerOp(template=template, format=fmt)) \
                  .sink(self.target_op(lt_id))


def translate_to_plan(doc: Document,
                      default_target: Optional[TargetOp] = None,
                      source_overrides: Optional[dict[str, dict]] = None
                      ) -> CompiledMapping:
    """Compile an RML Document into an operator Plan DAG.

    ``source_overrides`` optionally remaps logical-source names to binder
    configs (e.g. {"student.csv": {"path": "/abs/path/student.csv"}}).
    """
    graph = PlanGraph()
    compiled = CompiledMapping(graph=graph, base=doc.base)
    if default_target is None:
        # default logical target: StdOut + N-Quads
        # (rml-interpreter/src/rml_model/source_target.rs:57-68)
        default_target = TargetOp.make({}, IOType.DATAFRAME, DataFormat.NQUADS)

    tm_index: dict[str, TriplesMap] = {t.identifier: t for t in doc.triples_maps}
    router = _LtRouter(default_target)

    # --- one pass over every object map: plain and same-row ones are
    #     columns of their TM's own Extend, the rest are joins; the pass
    #     collects every Projection's attributes (util.rs:11-40) --------
    attrs: dict[str, set[str]] = {t: set() for t in tm_index}
    own: dict[str, tuple[dict, dict]] = {}  # TM → own Extend pairs, quads
    joins: dict[str, list[tuple]] = {t: [] for t in tm_index}  # by child TM
    n_joins = 0
    for i, tm in enumerate(doc.triples_maps):
        var_prefix = f"tm{i}"
        compiled.variable_map[tm.identifier] = var_prefix
        sm = tm.subject_map
        sm_var = f"{var_prefix}_sm"
        sm_fn = _term_function(sm.tm_info, doc.base)
        sm_graph_vars = _graph_vars(sm.graph_maps, sm_var, doc.base)
        tm_attrs = attrs[tm.identifier]
        tm_attrs |= sm.tm_info.references()
        for gm in sm.graph_maps:
            tm_attrs |= gm.tm_info.references()

        def add_pom(pairs: dict, quads: dict, p_idx: int,
                    pom: PredicateObjectMap, columns: list) -> None:
            """Extend ``pairs`` and ``quads`` with every predicate map of
            ``pom`` times every (om_var, Function, ObjectMap) column."""
            pom_graph_vars = _graph_vars(pom.graph_maps,
                                         f"{var_prefix}_p{p_idx}", doc.base)
            for pm_idx, pm in enumerate(pom.predicate_maps):
                pm_var = f"{var_prefix}_p{p_idx}_{pm_idx}"
                pairs[pm_var] = _term_function(pm.tm_info, doc.base)
                for om_var, fn, om in columns:
                    pairs[om_var] = fn
                    routes = router.route_ids(sm.tm_info, pm.tm_info,
                                              om.tm_info)
                    _emit_quads(quads, routes, sm_var, pm_var, om_var,
                                sm_graph_vars, pom_graph_vars)
            for name, fn in {**sm_graph_vars, **pom_graph_vars}.items():
                pairs.setdefault(name, fn)

        pairs: dict[str, Function] = {sm_var: sm_fn}
        quads: dict[str, list[Quad]] = {}
        # class quads (mod.rs:149-201: subject classes extend)
        if sm.classes:
            type_var = f"{var_prefix}_type"
            pairs[type_var] = Function.iri(Function.constant(RDF_TYPE_IRI))
            sm_routes = router.route_ids(sm.tm_info)
            for c, cls in enumerate(sm.classes):
                cls_var = f"{var_prefix}_cls{c}"
                pairs[cls_var] = Function.iri(Function.constant(cls))
                _emit_quads(quads, sm_routes, sm_var, type_var, cls_var,
                            sm_graph_vars, {})
        for p_idx, pom in enumerate(tm.po_maps):
            for m in pom.predicate_maps + pom.graph_maps:
                tm_attrs |= m.tm_info.references()
            columns = []
            for om_idx, om in enumerate(pom.object_maps):
                om_var = f"{var_prefix}_o{p_idx}_{om_idx}"
                if om.parent_tm is None:  # plain
                    tm_attrs |= om.tm_info.references()
                    columns.append((om_var, _term_function(
                        om.tm_info, doc.base, om.data_type, om.language), om))
                    continue
                ptm = tm_index[om.parent_tm]
                jc = om.join_condition
                if jc is None and tm.logical_source.same_as(ptm.logical_source):
                    # same-row: the parent subject computed on the child row
                    tm_attrs |= ptm.subject_map.tm_info.references()
                    columns.append((om_var, _term_function(
                        ptm.subject_map.tm_info, doc.base), om))
                    continue
                # join (mod.rs:203-313): equi-join on the join condition,
                # else cross; the parent subject map reads alias-prefixed
                # attributes (mod.rs:263-266)
                if jc is not None:
                    tm_attrs.update(jc.child_attributes)
                    attrs[ptm.identifier].update(jc.parent_attributes)
                n_joins += 1
                alias = f"join_{n_joins}"
                parent_fn = _term_function(
                    ptm.subject_map.tm_info.prefix_attributes(alias), doc.base)
                j_pairs = {sm_var: sm_fn, om_var: parent_fn}
                j_quads: dict[str, list[Quad]] = {}
                add_pom(j_pairs, j_quads, p_idx, pom, [(om_var, parent_fn, om)])
                joins[tm.identifier].append(
                    (alias, jc, ptm.identifier, j_pairs, j_quads))
            if columns:
                add_pom(pairs, quads, p_idx, pom, columns)
        for name, fn in sm_graph_vars.items():
            pairs.setdefault(name, fn)
        if quads:
            own[tm.identifier] = (pairs, quads)

    # --- per-TM: Source → Project branch (mod.rs:314-428) ---------------
    projections: list[Plan] = []
    for tm in doc.triples_maps:
        tm_attrs = attrs[tm.identifier]
        config = {"source": tm.logical_source.source}
        if tm.logical_source.iterator:
            config["iterator"] = tm.logical_source.iterator
        if source_overrides and tm.logical_source.source in source_overrides:
            config.update(source_overrides[tm.logical_source.source])
        rf = _FORMULATION_MAP[tm.logical_source.reference_formulation]
        # document sources (JSONPath/XMLPath): the referenced attributes
        # double as the iterator's field spec (alias = reference path),
        # feeding the docsource loader's nested-path resolution
        fields: tuple = ()
        if rf in (ReferenceFormulation.JSON_PATH,
                  ReferenceFormulation.XML_PATH):
            fields = tuple(IterField(alias=a, reference=a)
                           for a in sorted(tm_attrs))
        source_op = SourceOp.make(
            config,
            IOType.TABLE if rf == ReferenceFormulation.TABLE else IOType.FILE,
            SourceIterator(reference=tm.logical_source.iterator,
                           reference_formulation=rf, fields=fields))
        plan = Plan(graph).source(source_op)
        projections.append(plan.apply(
            ProjectOp(projection_attributes=frozenset(tm_attrs)), "Projection"))

    # --- fragmentation (plan.rs:284-313, fragment elision
    #     translator/src/rmlalgebra/operators/fragment.rs:18-34): one
    #     output per branch emitted below — the own Extend, each join the
    #     TM takes part in as child or as parent ------------------------
    consumers = {t: int(t in own) + len(joins[t]) for t in tm_index}
    for tm_joins in joins.values():
        for _, _, parent_id, _, _ in tm_joins:
            consumers[parent_id] += 1
    outputs: dict[str, Iterator[Plan]] = {}
    for tm, plan in zip(doc.triples_maps, projections):
        frags = [DEFAULT_FRAGMENT] + [
            f"frag_{k}" for k in range(1, consumers[tm.identifier])]
        if len(frags) > 1:
            plan = plan.fragment(FragmentOp(from_fragment=DEFAULT_FRAGMENT,
                                            to_fragments=tuple(frags)))
        # readers take frag_1, frag_2, … in emission order, the last
        # one takes the default output
        outputs[tm.identifier] = iter(
            [plan.with_fragment(f) for f in frags[1:]] + [plan])

    # --- emit Extend → Serializer → Target per branch -------------------
    for tm in doc.triples_maps:
        if tm.identifier in own:
            pairs, quads = own[tm.identifier]
            plan = next(outputs[tm.identifier])
            router.sink_quads(plan.apply(ExtendOp.make(pairs), "Extend"), quads)
        for alias, jc, parent_id, pairs, quads in joins[tm.identifier]:
            jb = plan_join(next(outputs[tm.identifier]),
                           next(outputs[parent_id])).alias(alias)
            joined = jb.where_by(jc.child_attributes).compared_to(
                jc.parent_attributes) if jc is not None else jb.cross_join()
            router.sink_quads(joined.apply(ExtendOp.make(pairs), "Extend"),
                              quads)

    return compiled


def _graph_vars(graph_maps: list[GraphMap], prefix: str,
                base: Optional[str]) -> dict[str, Function]:
    return {f"{prefix}_gm{g_idx}": _term_function(gm.tm_info, base)
            for g_idx, gm in enumerate(graph_maps)}


def _emit_quads(lt_quads: dict[str, list[Quad]], routes: tuple[str, ...],
                sm_var: str, pm_var: str, om_var: str,
                sm_graph_vars: dict, pom_graph_vars: dict) -> None:
    """Quad fan-out: POM triples land in the union of subject-level and
    POM-level graphs (golden RMLTC0009b), or the default graph when both
    are empty, routed to every logical target in ``routes``.  Mirrors
    generate_lt_quads + sanitize_quad_map
    (translator/src/rmlalgebra/util.rs:137-236): no default-graph copy is
    kept when the triple lands in a named graph."""
    all_graphs = list(sm_graph_vars) + [g for g in pom_graph_vars
                                        if g not in sm_graph_vars]
    produced = ([Quad(sm_var, pm_var, om_var)] if not all_graphs
                else [Quad(sm_var, pm_var, om_var, g) for g in all_graphs])
    for lt_id in routes:
        lt_quads.setdefault(lt_id, []).extend(produced)
