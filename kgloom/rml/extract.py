"""Extractors: parsed Turtle graph → RML Document IR, with validation.

Parity target: `/root/reference/rml-interpreter/src/extractors/` —
triples-map discovery (triplesmap_extractor.rs:45-65: every subject with
rr:subjectMap / rml:subjectMap), term-map type detection
(term_map_info_extractor.rs:16-68: constant vs reference/column vs
template vs functionValue), term-type defaults
(subjectmap_extractor.rs:35-51 subject→IRI;
predicatemap_extractor.rs:27-41 predicate→IRI;
graphmap_extractor.rs:26-33 graph→IRI;
objectmap_extractor.rs:95-97 object→constant's kind / else
Literal-when-reference-or-lang-or-dtype, IRI otherwise — the golden
corpus pins the spec behavior: RMLTC0011b template object ⇒ IRI).

Validation (the corpus' invalid-mapping cases must yield no triples):
- exactly one subject map               (RMLTC0012c, RMLTC0012d)
- graph maps must be IRI-kind           (RMLTC0007h)
- language tags must look like BCP-47   (RMLTC0015b: "english" invalid)
- rml:source is a path or an IRI; a blank-node description (a
  csvw:Table) is rejected here rather than failing at bind time
- a predicate-object map has a predicate map and an object map, and an
  object map has no graph map (R2RML §6, §9): neither is compiled into
  a plan that silently generates nothing or the wrong graph
"""

from __future__ import annotations

import re
from typing import Optional

from .model import (
    KIND_BLANK,
    KIND_IRI,
    KIND_LITERAL,
    TM_CONSTANT,
    TM_FUNCTION,
    TM_REFERENCE,
    TM_TEMPLATE,
    Document,
    FunctionMap,
    GraphMap,
    JoinCondition,
    LogicalSource,
    ObjectMap,
    PredicateMap,
    PredicateObjectMap,
    SubjectMap,
    TermMapInfo,
    TriplesMap,
)
from .turtle import Graph, Term

RR = "http://www.w3.org/ns/r2rml#"
RML = "http://semweb.mmlab.be/ns/rml#"
QL = "http://semweb.mmlab.be/ns/ql#"
FNML = "http://semweb.mmlab.be/ns/fnml#"
FNO = "https://w3id.org/function/ontology#"
RMLT = "http://semweb.mmlab.be/ns/rml-target#"
VOID = "http://rdfs.org/ns/void#"
SD = "http://www.w3.org/ns/sparql-service-description#"
FORMATS = "http://www.w3.org/ns/formats/"


class RmlValidationError(Exception):
    """Invalid mapping — the engine must emit no triples for it."""


# BCP-47-ish: primary language subtag of 2-4 alpha chars (+ subtags).
# Rejects RMLTC0015b's "english" (7 chars) while accepting en/es/en-US.
_LANG_RE = re.compile(r"^[a-zA-Z]{2,4}(-[a-zA-Z0-9]{1,8})*$")

_REF_FORMULATIONS = {
    QL + "CSV": "CSVRows",
    QL + "JSONPath": "JSONPath",
    QL + "XPath": "XMLPath",
    RR + "SQL2008": "SQLQuery",
    # Spark-native extension: columnar table scans (the scale path)
    "http://kgloom.dev/ql#Table": "Table",
}


def _lit(term: Optional[Term]) -> Optional[str]:
    if term is None:
        return None
    if term[0] != "literal":
        raise RmlValidationError(f"expected literal, got {term}")
    return term[1]


def _term_id(term: Term) -> str:
    return f"{term[0]}:{term[1]}"


def extract_document(graph: Graph) -> Document:
    """triplesmap_extractor.rs:45-65 — find every subject carrying a
    subject map, extract each into a TriplesMap."""
    tm_subjects: list[Term] = []
    seen = set()
    for pred in (RR + "subjectMap", RML + "subjectMap", RR + "subject"):
        for s in graph.subjects_with(pred):
            if s not in seen:
                seen.add(s)
                tm_subjects.append(s)
    # Keep only subjects that also have a logical source (a bare node with
    # rr:subjectMap but no source is not a TriplesMap).
    doc = Document(base=graph.base)
    for subj in tm_subjects:
        doc.triples_maps.append(_extract_triples_map(graph, subj))
    # a referencing object map must name a triples map of this document
    known = {tm.identifier for tm in doc.triples_maps}
    for tm in doc.triples_maps:
        for pom in tm.po_maps:
            for om in pom.object_maps:
                if om.parent_tm is not None and om.parent_tm not in known:
                    raise RmlValidationError(
                        f"triples map {tm.identifier}: object map "
                        f"{om.tm_info.identifier} names rr:parentTriplesMap "
                        f"{om.parent_tm}, which is not a triples map")
    # RMLTC0012c: a mapping with POMs but no subject map anywhere is invalid.
    if not doc.triples_maps and graph.subjects_with(RR + "predicateObjectMap"):
        raise RmlValidationError("predicateObjectMap without any subjectMap")
    return doc


def _extract_triples_map(graph: Graph, subj: Term) -> TriplesMap:
    ls = _extract_logical_source(graph, subj)
    sms = graph.objects(subj, RR + "subjectMap") + \
        graph.objects(subj, RML + "subjectMap")
    shortcut = graph.objects(subj, RR + "subject")
    if len(sms) + len(shortcut) != 1:
        raise RmlValidationError(
            f"{subj}: exactly one subject map required, found "
            f"{len(sms) + len(shortcut)}")  # RMLTC0012c/0012d
    if shortcut:
        sm = SubjectMap(tm_info=TermMapInfo(
            identifier=_term_id(subj) + "_sm", term_map_type=TM_CONSTANT,
            term_value=shortcut[0][1], term_type=KIND_IRI))
    else:
        sm = _extract_subject_map(graph, sms[0])
    poms = [_extract_pom(graph, pom)
            for pom in graph.objects(subj, RR + "predicateObjectMap")]
    return TriplesMap(identifier=_term_id(subj), logical_source=ls,
                      subject_map=sm, po_maps=poms)


def _extract_logical_source(graph: Graph, subj: Term) -> LogicalSource:
    """logicalsource_extractor.rs — rml:logicalSource body."""
    ls_node = graph.object(subj, RML + "logicalSource") or \
        graph.object(subj, RR + "logicalTable")
    if ls_node is None:
        raise RmlValidationError(f"{subj}: missing logical source")
    src_term = graph.object(ls_node, RML + "source") or \
        graph.object(ls_node, RR + "tableName")
    if src_term is None:
        raise RmlValidationError(f"{subj}: logical source without rml:source")
    if src_term[0] == "bnode":
        # a described source (csvw:Table, d2rq:Database, ...) has no
        # path: reject it here, not as a missing file at bind time
        raise RmlValidationError(
            f"triples map {subj[1]}: rml:source is a blank node (a "
            f"described source such as a csvw:Table); only a path or an "
            f"IRI is supported")
    source = src_term[1]
    rf_term = graph.object(ls_node, RML + "referenceFormulation")
    rf = "CSVRows"
    if rf_term is not None:
        if rf_term[1] not in _REF_FORMULATIONS:
            raise RmlValidationError(
                f"triples map {subj[1]}: logical source {ls_node[1]} has "
                f"an unknown rml:referenceFormulation <{rf_term[1]}>")
        rf = _REF_FORMULATIONS[rf_term[1]]
    iterator = _lit(graph.object(ls_node, RML + "iterator"))
    if iterator is None:
        # SQLQuery sources carry the statement in rml:query / rr:sqlQuery
        iterator = _lit(graph.object(ls_node, RML + "query") or
                        graph.object(ls_node, RR + "sqlQuery"))
    return LogicalSource(identifier=_term_id(ls_node), source=source,
                         reference_formulation=rf, iterator=iterator)


_SERIALIZATION_FORMATS = {
    # serialization_to_dataformat (translator/src/rmlalgebra/mod.rs:85-116)
    FORMATS + "N-Quads": "NQuads",
    FORMATS + "N-Triples": "NTriples",
    FORMATS + "Turtle": "TTL",
    FORMATS + "JSON-LD": "JSONLD",
}


def _extract_logical_targets(graph: Graph, node: Term) -> tuple:
    """logicaltarget_extractor.rs — rml:logicalTarget bodies on a term
    map: rmlt:target (→ void:dataDump path / sd:endpoint),
    rmlt:serialization (default N-Triples), rmlt:compression."""
    from .model import LogicalTarget
    out = []
    for lt_node in graph.objects(node, RML + "logicalTarget"):
        ser_term = graph.object(lt_node, RMLT + "serialization")
        # extractor default when unstated: NTriples
        # (logicaltarget_extractor.rs: unwrap_or NTRIPLES); unknown
        # serializations fall back to NQuads (mod.rs:111 catch-all)
        ser = "NTriples" if ser_term is None else \
            _SERIALIZATION_FORMATS.get(ser_term[1], "NQuads")
        comp_term = graph.object(lt_node, RMLT + "compression")
        target = graph.object(lt_node, RMLT + "target")
        if target is None:
            raise RmlValidationError(f"{lt_node}: logicalTarget without "
                                     "rmlt:target")
        dump = graph.object(target, VOID + "dataDump")
        endpoint = graph.object(target, SD + "endpoint") or \
            graph.object(target, VOID + "sparqlEndpoint")
        if dump is not None:
            path = dump[1]
            if path.startswith("file://"):
                path = path[len("file://"):]
            output_type, config = "File", (("path", path),)
        elif endpoint is not None:
            output_type = "SPARQLEndpoint"
            config = (("sparql_uri", endpoint[1]),)
        else:
            raise RmlValidationError(
                f"{target}: target needs void:dataDump or sd:endpoint")
        out.append(LogicalTarget(
            identifier=_term_id(lt_node), serialization=ser,
            output_type=output_type, config=config,
            compression=comp_term[1] if comp_term else None))
    return tuple(out)


def _extract_tm_info(graph: Graph, node: Term, position: str) -> TermMapInfo:
    """term_map_info_extractor.rs:16-68 — detect constant / reference /
    template / functionValue and the term type."""
    ident = _term_id(node)
    constant = graph.object(node, RR + "constant")
    reference = graph.object(node, RML + "reference") or \
        graph.object(node, RR + "column")
    template = graph.object(node, RR + "template")
    fn_value = graph.object(node, FNML + "functionValue")

    fun_map = None
    if constant is not None:
        tm_type, value = TM_CONSTANT, constant[1]
        const_kind = {"iri": KIND_IRI, "literal": KIND_LITERAL,
                      "bnode": KIND_BLANK}[constant[0]]
    elif reference is not None:
        tm_type, value, const_kind = TM_REFERENCE, _lit(reference), None
    elif template is not None:
        tm_type, value, const_kind = TM_TEMPLATE, _lit(template), None
    elif fn_value is not None:
        tm_type, value, const_kind = TM_FUNCTION, "", None
        fun_map = _extract_function_map(graph, fn_value)
    else:
        raise RmlValidationError(
            f"{node}: term map has no constant/reference/template/functionValue")

    # explicit rr:termType
    tt_term = graph.object(node, RR + "termType")
    if tt_term is not None:
        tt_map = {RR + "IRI": KIND_IRI, RR + "Literal": KIND_LITERAL,
                  RR + "BlankNode": KIND_BLANK}
        if tt_term[1] not in tt_map:
            raise RmlValidationError(f"{node}: bad termType {tt_term[1]}")
        term_type = tt_map[tt_term[1]]
    elif const_kind is not None:
        term_type = const_kind
    elif position in ("subject", "predicate", "graph"):
        term_type = KIND_IRI
    else:  # object position defaults (R2RML §7.4; golden RMLTC0011b)
        has_lang = graph.object(node, RR + "language") is not None
        has_dtype = graph.object(node, RR + "datatype") is not None
        if tm_type == TM_REFERENCE or has_lang or has_dtype:
            term_type = KIND_LITERAL
        else:
            term_type = KIND_IRI

    # validation: a graph map may not be Literal (R2RML; RMLTC0007h gives
    # empty output).  A Literal termType on a *subject* map is coerced to
    # IRI instead — the reference corpus' own golden output keeps the
    # triple with an IRI subject (RMLTC0004b output.nq).
    if position == "graph" and term_type == KIND_LITERAL:
        raise RmlValidationError(f"{node}: graph map cannot be a Literal")
    if position == "subject" and term_type == KIND_LITERAL:
        term_type = KIND_IRI
    if position == "predicate" and term_type != KIND_IRI:
        raise RmlValidationError(f"{node}: predicate map must be an IRI")

    return TermMapInfo(identifier=ident, term_map_type=tm_type,
                       term_value=value, term_type=term_type, fun_map=fun_map,
                       logical_targets=_extract_logical_targets(graph, node))


def _extract_function_map(graph: Graph, fn_node: Term) -> FunctionMap:
    """functionmap_extractor.rs:8-54 — an fnml:functionValue is itself a
    triples-map-like node whose POMs carry fno:executes + named params."""
    function_iri = None
    params: list[tuple[str, ObjectMap]] = []
    for pom_node in graph.objects(fn_node, RR + "predicateObjectMap"):
        pom = _extract_pom(graph, pom_node)
        for pm in pom.predicate_maps:
            for om in pom.object_maps:
                if pm.tm_info.term_map_type == TM_CONSTANT and \
                        pm.tm_info.term_value in (FNO + "executes",
                                                  "http://w3id.org/function/ontology#executes"):
                    function_iri = om.tm_info.term_value
                else:
                    params.append((pm.tm_info.term_value, om))
    if function_iri is None:
        raise RmlValidationError(f"{fn_node}: functionValue without fno:executes")
    return FunctionMap(identifier=_term_id(fn_node),
                       function_iri=function_iri, param_om_pairs=params)


def _extract_graph_maps(graph: Graph, node: Term) -> list[GraphMap]:
    """graphmap_extractor.rs:26-33 + rr:graph shortcut handling.

    rr:defaultGraph constants are dropped (quad → triple, RMLTC0007g).
    """
    out: list[GraphMap] = []
    for gm_node in graph.objects(node, RR + "graphMap"):
        out.append(GraphMap(tm_info=_extract_tm_info(graph, gm_node, "graph")))
    for g in graph.objects(node, RR + "graph"):
        if g[0] == "iri":
            if g[1] == RR + "defaultGraph":
                continue
            out.append(GraphMap(tm_info=TermMapInfo(
                identifier=_term_id(node) + "_graph",
                term_map_type=TM_CONSTANT, term_value=g[1],
                term_type=KIND_IRI)))
        else:
            # lenient: rr:graph [ ...term map body... ] (RMLTC0007h style)
            out.append(GraphMap(tm_info=_extract_tm_info(graph, g, "graph")))
    # drop constant defaultGraph graph maps
    return [gm for gm in out
            if not (gm.tm_info.term_map_type == TM_CONSTANT
                    and gm.tm_info.term_value == RR + "defaultGraph")]


def _extract_subject_map(graph: Graph, node: Term) -> SubjectMap:
    tm_info = _extract_tm_info(graph, node, "subject")
    classes = [c[1] for c in graph.objects(node, RR + "class")]
    return SubjectMap(tm_info=tm_info, classes=classes,
                      graph_maps=_extract_graph_maps(graph, node))


def _extract_pom(graph: Graph, node: Term) -> PredicateObjectMap:
    pms: list[PredicateMap] = []
    for pm_node in graph.objects(node, RR + "predicateMap"):
        pms.append(PredicateMap(tm_info=_extract_tm_info(graph, pm_node, "predicate")))
    for p in graph.objects(node, RR + "predicate"):
        pms.append(PredicateMap(tm_info=TermMapInfo(
            identifier=_term_id(node) + f"_p{len(pms)}",
            term_map_type=TM_CONSTANT, term_value=p[1], term_type=KIND_IRI)))

    oms: list[ObjectMap] = []
    for om_node in graph.objects(node, RR + "objectMap"):
        if graph.objects(om_node, RR + "graphMap") or \
                graph.objects(om_node, RR + "graph"):
            # R2RML §9: graph maps belong to subject maps and
            # predicate-object maps only
            raise RmlValidationError(
                f"object map {om_node[1]}: a graph map is allowed only on "
                f"a subject map or a predicate-object map")
        parent = graph.object(om_node, RR + "parentTriplesMap")
        if parent is not None:
            jc = None
            jc_node = graph.object(om_node, RR + "joinCondition")
            if jc_node is not None:
                children = [_lit(c) for c in graph.objects(jc_node, RR + "child")]
                parents = [_lit(p) for p in graph.objects(jc_node, RR + "parent")]
                if not children or len(children) != len(parents):
                    raise RmlValidationError(f"{om_node}: bad join condition")
                jc = JoinCondition(child_attributes=children,
                                   parent_attributes=parents)
            oms.append(ObjectMap(
                tm_info=TermMapInfo(identifier=_term_id(om_node),
                                    term_map_type=TM_REFERENCE, term_value="",
                                    term_type=KIND_IRI,
                                    logical_targets=_extract_logical_targets(
                                        graph, om_node)),
                parent_tm=_term_id(parent), join_condition=jc))
            continue
        tm_info = _extract_tm_info(graph, om_node, "object")
        lang = _lit(graph.object(om_node, RR + "language"))
        if lang is not None:
            if not _LANG_RE.match(lang):
                raise RmlValidationError(
                    f"{om_node}: invalid language tag {lang!r}")  # RMLTC0015b
            if tm_info.term_type != KIND_LITERAL:
                raise RmlValidationError(
                    f"{om_node}: language tag on non-literal")
        dtype_term = graph.object(om_node, RR + "datatype")
        dtype = dtype_term[1] if dtype_term is not None else None
        oms.append(ObjectMap(tm_info=tm_info, data_type=dtype, language=lang))
    for o in graph.objects(node, RR + "object"):
        kind = {"iri": KIND_IRI, "literal": KIND_LITERAL,
                "bnode": KIND_BLANK}[o[0]]
        oms.append(ObjectMap(tm_info=TermMapInfo(
            identifier=_term_id(node) + f"_o{len(oms)}",
            term_map_type=TM_CONSTANT, term_value=o[1], term_type=kind),
            data_type=o[2] if kind == KIND_LITERAL else None,
            language=o[3] if kind == KIND_LITERAL else None))
    if not pms or not oms:
        # R2RML §6: at least one predicate map and one object map
        raise RmlValidationError(
            f"predicate-object map {node[1]}: needs a predicate map and an "
            f"object map, found {len(pms)} and {len(oms)}")
    return PredicateObjectMap(predicate_maps=pms, object_maps=oms,
                              graph_maps=_extract_graph_maps(graph, node))
