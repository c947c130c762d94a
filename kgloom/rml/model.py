"""RML document model (frontend IR #1).

Parity target: `/root/reference/rml-interpreter/src/rml_model/`:
Document (mod.rs:8-11), TriplesMap (mod.rs:13-19), PredicateObjectMap
(mod.rs:27-32), TermMapInfo/SubjectMap/PredicateMap/ObjectMap/FunctionMap
(term_map.rs:31-180), JoinCondition (join.rs:1-5), LogicalSource
(source_target.rs:15-28), LogicalTarget (source_target.rs:48-74).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

# term map types (term_map.rs:143-149)
TM_CONSTANT = "Constant"
TM_REFERENCE = "Reference"
TM_TEMPLATE = "Template"
TM_FUNCTION = "Function"

# term kinds
KIND_IRI = "Iri"
KIND_LITERAL = "Literal"
KIND_BLANK = "BlankNode"


@dataclass
class FunctionMap:
    """term_map.rs:175-180 — FnO function map."""

    identifier: str
    function_iri: str
    param_om_pairs: list[tuple[str, "ObjectMap"]] = field(default_factory=list)


@dataclass(frozen=True)
class LogicalTarget:
    """source_target.rs:48-74 — rml:logicalTarget body.

    ``identifier`` keys the per-target quad routing; ``serialization``
    is a DataFormat value; ``output_type`` an IOType value; ``config``
    carries e.g. the void:dataDump path (tuple-of-pairs so the
    dataclass stays hashable, like the reference's Hash-by-identifier).
    """

    identifier: str
    serialization: str = "NQuads"
    output_type: str = "File"
    config: tuple = ()
    compression: Optional[str] = None


#: identifier of the implicit default target
#: (source_target.rs:57-68 Default impl)
DEFAULT_TARGET_ID = "default"


@dataclass
class TermMapInfo:
    """term_map.rs:31-39."""

    identifier: str
    term_map_type: str  # TM_* above
    term_value: str     # constant value / reference attr / template string
    term_type: str      # KIND_* above
    fun_map: Optional[FunctionMap] = None
    #: term_map_info_extractor.rs:109-119 — explicit rml:logicalTarget
    #: targets; empty ⇒ the default target (the extractor inserts the
    #: default there; we keep () and let the translator substitute it,
    #: so plans without logical targets are byte-identical to before)
    logical_targets: tuple = ()

    def references(self) -> set[str]:
        from ..algebra import template_attributes
        if self.term_map_type == TM_REFERENCE:
            return {self.term_value}
        if self.term_map_type == TM_TEMPLATE:
            return set(template_attributes(self.term_value))
        if self.term_map_type == TM_FUNCTION and self.fun_map:
            out: set[str] = set()
            for _, om in self.fun_map.param_om_pairs:
                out |= om.tm_info.references()
            return out
        return set()

    def prefix_attributes(self, prefix: str) -> "TermMapInfo":
        """Rewrite ``{attr}`` → ``{prefix_attr}`` / reference attr →
        ``prefix_attr`` (term_map.rs:67-90), used to point a joined
        Extend at alias-prefixed parent columns."""
        import re
        if self.term_map_type == TM_REFERENCE:
            return TermMapInfo(self.identifier, self.term_map_type,
                               f"{prefix}_{self.term_value}", self.term_type,
                               self.fun_map, self.logical_targets)
        if self.term_map_type == TM_TEMPLATE:
            cleaned = self.term_value.replace(r"\{", "\x00").replace(r"\}", "\x01")
            rewritten = re.sub(r"\{([^{}]+)\}",
                               lambda m: "{" + prefix + "_" + m.group(1) + "}",
                               cleaned)
            rewritten = rewritten.replace("\x00", r"\{").replace("\x01", r"\}")
            return TermMapInfo(self.identifier, self.term_map_type, rewritten,
                               self.term_type, self.fun_map,
                               self.logical_targets)
        return self


@dataclass
class GraphMap:
    tm_info: TermMapInfo


@dataclass
class SubjectMap:
    """term_map.rs:151-156."""

    tm_info: TermMapInfo
    classes: list[str] = field(default_factory=list)
    graph_maps: list[GraphMap] = field(default_factory=list)


@dataclass
class PredicateMap:
    """term_map.rs:159-163."""

    tm_info: TermMapInfo


@dataclass
class JoinCondition:
    """join.rs:1-5."""

    child_attributes: list[str]
    parent_attributes: list[str]


@dataclass
class ObjectMap:
    """term_map.rs:165-173."""

    tm_info: TermMapInfo
    parent_tm: Optional[str] = None
    join_condition: Optional[JoinCondition] = None
    data_type: Optional[str] = None
    language: Optional[str] = None


@dataclass
class PredicateObjectMap:
    """mod.rs:27-32."""

    predicate_maps: list[PredicateMap] = field(default_factory=list)
    object_maps: list[ObjectMap] = field(default_factory=list)
    graph_maps: list[GraphMap] = field(default_factory=list)


@dataclass
class LogicalSource:
    """source_target.rs:15-28."""

    identifier: str
    source: str                      # file path / table name
    reference_formulation: str = "CSVRows"
    iterator: Optional[str] = None

    def same_as(self, other: "LogicalSource") -> bool:
        """Struct equality minus identifier (source_target.rs:22-28) —
        used for natural-join detection."""
        return (self.source == other.source
                and self.reference_formulation == other.reference_formulation
                and self.iterator == other.iterator)


@dataclass
class TriplesMap:
    """mod.rs:13-19."""

    identifier: str
    logical_source: LogicalSource
    subject_map: SubjectMap
    po_maps: list[PredicateObjectMap] = field(default_factory=list)


@dataclass
class Document:
    """mod.rs:8-11 (+ base IRI kept for term resolution)."""

    triples_maps: list[TriplesMap] = field(default_factory=list)
    base: Optional[str] = None
