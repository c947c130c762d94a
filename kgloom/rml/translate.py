"""RML Document → operator Plan compiler.

Parity target: `OptimizedRMLDocumentTranslator::translate_to_plan`
(`/root/reference/translator/src/rmlalgebra/mod.rs:34-120`) and its
helpers:

- per-TriplesMap Source + Projection (mod.rs:314-428; projection =
  term-map references + incoming join-condition parent attrs,
  util.rs:11-40),
- variable map ``tm{i}_sm`` / ``tm{i}_p{pom}_{pm}`` / ``tm{i}_o{pom}_{om}``
  / ``..._gm{g}`` (translator/src/rmlalgebra/util.rs:268-340),
- POM partitioning into join/non-join (mod.rs:122-147),
- non-join branch: Extend → Serializer → Target (mod.rs:149-201),
- join branch: alias ``join_{n}``, join-flavor selection (mod.rs:249-261:
  explicit condition → inner equi-join; same logical source → natural;
  else cross), parent subject-map attribute prefixing (mod.rs:263-266)
  then Extend → Serializer → Target (mod.rs:203-313),
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
from typing import Optional

from ..algebra import (
    DataFormat,
    ExtendOp,
    FragmentOp,
    Function,
    IOType,
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
    ObjectMap,
    PredicateObjectMap,
    SubjectMap,
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
    ``UriEncode`` wrapper being interpreted per-part for templates)."""
    if tm_info.term_map_type == TM_CONSTANT:
        inner = Function.constant(tm_info.term_value)
    elif tm_info.term_map_type == TM_REFERENCE:
        inner = Function.reference(tm_info.term_value)
    elif tm_info.term_map_type == TM_TEMPLATE:
        inner = Function.template(tm_info.term_value)
    elif tm_info.term_map_type == TM_FUNCTION:
        # params are raw value functions (no term-kind wrapping — the
        # wrapper applies to the FnO *result*, not its inputs)
        params = {p: _value_function(om.tm_info, base)
                  for p, om in tm_info.fun_map.param_om_pairs}
        inner = Function.fno(tm_info.fun_map.function_iri, params)
    else:
        raise ValueError(tm_info.term_map_type)

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


def _partition_poms(tm: TriplesMap) -> tuple[list[PredicateObjectMap],
                                             list[PredicateObjectMap]]:
    """mod.rs:122-147 — split POMs into non-join and join POMs.

    A POM whose object maps reference a parent TM *with the same logical
    source and no join condition* is same-row (see module docstring) and
    is treated as non-join after object rewriting."""
    non_join, join_poms = [], []
    for pom in tm.po_maps:
        if any(om.parent_tm is not None and om.join_condition is not None
               for om in pom.object_maps):
            join_poms.append(pom)
        elif any(om.parent_tm is not None for om in pom.object_maps):
            join_poms.append(pom)
        else:
            non_join.append(pom)
    return non_join, join_poms


class _TmBranch:
    def __init__(self, plan: Plan, tm: TriplesMap, var_prefix: str):
        self.plan = plan
        self.tm = tm
        self.var_prefix = var_prefix


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

    # --- incoming parent-side join attributes per TM (util.rs:11-40) ----
    incoming_parent_attrs: dict[str, set[str]] = {t: set() for t in tm_index}
    same_row_parents: dict[str, set[str]] = {t: set() for t in tm_index}
    for tm in doc.triples_maps:
        for pom in tm.po_maps:
            for om in pom.object_maps:
                if om.parent_tm is None:
                    continue
                ptm = tm_index.get(om.parent_tm)
                if ptm is None:
                    raise ValueError(f"unknown parentTriplesMap {om.parent_tm}")
                if om.join_condition is not None:
                    incoming_parent_attrs[ptm.identifier].update(
                        om.join_condition.parent_attributes)
                elif tm.logical_source.same_as(ptm.logical_source):
                    # same-row case: child must project parent sm refs
                    same_row_parents[tm.identifier].update(
                        ptm.subject_map.tm_info.references())

    # --- per-TM: Source → Project branch (mod.rs:314-428) ---------------
    branches: dict[str, _TmBranch] = {}
    for i, tm in enumerate(doc.triples_maps):
        var_prefix = f"tm{i}"
        compiled.variable_map[tm.identifier] = var_prefix

        attrs: set[str] = set(tm.subject_map.tm_info.references())
        for gm in tm.subject_map.graph_maps:
            attrs |= gm.tm_info.references()
        for pom in tm.po_maps:
            for pm in pom.predicate_maps:
                attrs |= pm.tm_info.references()
            for om in pom.object_maps:
                if om.parent_tm is None:
                    attrs |= om.tm_info.references()
                elif om.join_condition is not None:
                    attrs |= set(om.join_condition.child_attributes)
            for gm in pom.graph_maps:
                attrs |= gm.tm_info.references()
        attrs |= incoming_parent_attrs[tm.identifier]
        attrs |= same_row_parents[tm.identifier]

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
            from ..algebra import IterField
            fields = tuple(IterField(alias=a, reference=a)
                           for a in sorted(attrs))
        source_op = SourceOp.make(
            config,
            IOType.TABLE if rf == ReferenceFormulation.TABLE else IOType.FILE,
            SourceIterator(reference=tm.logical_source.iterator,
                           reference_formulation=rf, fields=fields))
        plan = Plan(graph).source(source_op)
        plan = plan.apply(ProjectOp(projection_attributes=frozenset(attrs)),
                          "Projection")
        branches[tm.identifier] = _TmBranch(plan, tm, var_prefix)

    # --- fragmentation: fan-out counting (plan.rs:284-313, fragment
    #     elision translator/src/rmlalgebra/operators/fragment.rs:18-34) --
    consumers: dict[str, int] = {t: 0 for t in tm_index}
    join_counter = 0
    for tm in doc.triples_maps:
        non_join, join_poms = _partition_poms(tm)
        if non_join or tm.subject_map.classes or not tm.po_maps:
            consumers[tm.identifier] += 1
        for pom in join_poms:
            for om in pom.object_maps:
                if om.parent_tm is not None and om.join_condition is not None:
                    consumers[tm.identifier] += 1
                    consumers[om.parent_tm] += 1
                elif om.parent_tm is not None:
                    consumers[tm.identifier] += 1

    fragments: dict[str, list[str]] = {}
    for tm_id, n in consumers.items():
        if n > 1:
            frags = [DEFAULT_FRAGMENT] + [f"frag_{k}" for k in range(1, n)]
            branch = branches[tm_id]
            branch.plan = branch.plan.fragment(
                FragmentOp(from_fragment=DEFAULT_FRAGMENT,
                           to_fragments=tuple(frags)))
            fragments[tm_id] = frags[1:]

    def take_fragment(tm_id: str) -> Plan:
        branch = branches[tm_id]
        if tm_id in fragments and fragments[tm_id]:
            return branch.plan.with_fragment(fragments[tm_id].pop(0))
        return branch.plan

    # --- emit extend/serialize/sink per TM -------------------------------
    for i, tm in enumerate(doc.triples_maps):
        var_prefix = branches[tm.identifier].var_prefix
        non_join, join_poms = _partition_poms(tm)

        sm_graph_vars = _graph_vars(compiled, doc, tm.subject_map.graph_maps,
                                    f"{var_prefix}_sm")

        # ---- non-join branch (mod.rs:149-201) ----
        same_row_poms: list[tuple[PredicateObjectMap, ObjectMap, TriplesMap]] = []
        for pom in join_poms:
            for om in pom.object_maps:
                if om.parent_tm is not None and om.join_condition is None and \
                        tm.logical_source.same_as(
                            tm_index[om.parent_tm].logical_source):
                    same_row_poms.append((pom, om, tm_index[om.parent_tm]))

        if non_join or tm.subject_map.classes or same_row_poms or not tm.po_maps:
            extend_pairs: dict[str, Function] = {}
            lt_quads: dict[str, list[Quad]] = {}
            sm_routes = router.route_ids(tm.subject_map.tm_info)
            sm_var = f"{var_prefix}_sm"
            extend_pairs[sm_var] = _term_function(tm.subject_map.tm_info,
                                                  doc.base)
            # class quads (mod.rs:149-201: subject classes extend)
            if tm.subject_map.classes:
                type_var = f"{var_prefix}_type"
                extend_pairs[type_var] = Function.iri(
                    Function.constant(RDF_TYPE_IRI))
                for c, cls in enumerate(tm.subject_map.classes):
                    cls_var = f"{var_prefix}_cls{c}"
                    extend_pairs[cls_var] = Function.iri(Function.constant(cls))
                    _emit_quads(lt_quads, sm_routes, sm_var, type_var, cls_var,
                                sm_graph_vars, [])
            for p_idx, pom in enumerate(tm.po_maps):
                if pom in join_poms and not any(
                        om.parent_tm is not None and om.join_condition is None
                        and tm.logical_source.same_as(
                            tm_index[om.parent_tm].logical_source)
                        for om in pom.object_maps):
                    continue
                pom_graph_vars = _graph_vars(compiled, doc, pom.graph_maps,
                                             f"{var_prefix}_p{p_idx}")
                for pm_idx, pm in enumerate(pom.predicate_maps):
                    pm_var = f"{var_prefix}_p{p_idx}_{pm_idx}"
                    extend_pairs[pm_var] = _term_function(pm.tm_info, doc.base)
                    for om_idx, om in enumerate(pom.object_maps):
                        om_var = f"{var_prefix}_o{p_idx}_{om_idx}"
                        if om.parent_tm is not None:
                            if om.join_condition is not None:
                                continue  # handled in join branch
                            ptm = tm_index[om.parent_tm]
                            if not tm.logical_source.same_as(
                                    ptm.logical_source):
                                continue  # cross-join branch
                            # same-row: parent subject function on child rows
                            extend_pairs[om_var] = _term_function(
                                ptm.subject_map.tm_info, doc.base)
                        else:
                            extend_pairs[om_var] = _term_function(
                                om.tm_info, doc.base, om.data_type, om.language)
                        routes = router.route_ids(tm.subject_map.tm_info,
                                                  pm.tm_info, om.tm_info)
                        _emit_quads(lt_quads, routes, sm_var, pm_var, om_var,
                                    sm_graph_vars, pom_graph_vars)
                for name, fn in {**sm_graph_vars, **pom_graph_vars}.items():
                    extend_pairs.setdefault(name, fn)
            for name, fn in sm_graph_vars.items():
                extend_pairs.setdefault(name, fn)

            if any(lt_quads.values()):
                plan = take_fragment(tm.identifier)
                plan = plan.apply(ExtendOp.make(extend_pairs), "Extend")
                router.sink_quads(plan, lt_quads)

        # ---- join branches (mod.rs:203-313) ----
        for p_idx, pom in enumerate(tm.po_maps):
            if pom not in join_poms:
                continue
            pom_graph_vars = _graph_vars(compiled, doc, pom.graph_maps,
                                         f"{var_prefix}_p{p_idx}")
            for om_idx, om in enumerate(pom.object_maps):
                if om.parent_tm is None:
                    continue
                ptm = tm_index[om.parent_tm]
                if om.join_condition is None and \
                        tm.logical_source.same_as(ptm.logical_source):
                    continue  # compiled as same-row above
                join_counter += 1
                alias = f"join_{join_counter}"
                child_plan = take_fragment(tm.identifier)
                parent_plan = take_fragment(ptm.identifier)
                jb = plan_join(child_plan, parent_plan).alias(alias)
                if om.join_condition is not None:
                    joined = jb.where_by(om.join_condition.child_attributes) \
                               .compared_to(om.join_condition.parent_attributes)
                else:
                    joined = jb.cross_join()

                extend_pairs = {}
                lt_quads = {}
                sm_var = f"{var_prefix}_sm"
                extend_pairs[sm_var] = _term_function(tm.subject_map.tm_info,
                                                      doc.base)
                om_var = f"{var_prefix}_o{p_idx}_{om_idx}"
                # parent subject map with alias-prefixed attrs (mod.rs:263-266)
                ptm_sm = ptm.subject_map.tm_info.prefix_attributes(alias)
                extend_pairs[om_var] = _term_function(ptm_sm, doc.base)
                for pm_idx, pm in enumerate(pom.predicate_maps):
                    pm_var = f"{var_prefix}_p{p_idx}_{pm_idx}"
                    extend_pairs[pm_var] = _term_function(pm.tm_info, doc.base)
                    routes = router.route_ids(tm.subject_map.tm_info,
                                              pm.tm_info, om.tm_info)
                    _emit_quads(lt_quads, routes, sm_var, pm_var, om_var,
                                sm_graph_vars, pom_graph_vars)
                for name, fn in {**sm_graph_vars, **pom_graph_vars}.items():
                    extend_pairs.setdefault(name, fn)
                plan = joined.apply(ExtendOp.make(extend_pairs), "Extend")
                router.sink_quads(plan, lt_quads)

    return compiled


def _graph_vars(compiled: CompiledMapping, doc: Document,
                graph_maps: list[GraphMap], prefix: str) -> dict[str, Function]:
    out: dict[str, Function] = {}
    for g_idx, gm in enumerate(graph_maps):
        var = f"{prefix}_gm{g_idx}"
        out[var] = _term_function(gm.tm_info, doc.base)
    return out


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
