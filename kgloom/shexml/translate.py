"""ShExML document → operator plan.

Parity target: ``ShExMLTranslator::translate_to_plan``
(`/root/reference/translator/src/shexml/mod.rs:29-88`): sources keyed
``"{source}.{iterator}"`` (operators/source.rs:23-101), per source the
quads answerable from it (util.rs:155-212 get_quads_from_same_source),
a RenameOp mapping ``iterator.field`` → expression names
(operators/rename.rs:45-84), an ExtendOp computing the RDF terms
(mod.rs:211-290) and a Serializer with ``?var <pred> ?var`` BGP lines
(mod.rs:292-354).  UNION expressions resolve per source branch;
matchers become Replace functions; ``@shape`` links reuse the target
shape's subject function.  ``sql:`` iterators over JDBC sources
compile to SQLQuery source ops (beyond the reference, which skips
them).  AUTOINCREMENT compiles to an executable Function
(``Function.auto_increment``) numbering each source branch's rows in
document order (also beyond the reference).  ``expr IF
helper.fn(args)`` conditionals compile to ``Function.conditional``
wrapping the term when an implementation for ``shexml:helper.fn`` is
registered (``engine.run_shexml(functions=...)``); unregistered
helpers drop the conditioned term — never emit unconditioned
(reference parity baseline: it skips conditionals entirely, README
"Test cases").
"""

from __future__ import annotations

import re
from typing import Optional

from ..algebra import (
    DataFormat,
    ExtendOp,
    Function,
    IOType,
    ProjectOp,
    ReferenceFormulation,
    RenameOp,
    SerializerOp,
    SourceIterator,
    IterField,
    SourceOp,
    TargetOp,
)
from ..algebra import JoinType, PredicateType
from ..plan import Plan, PlanGraph, join as plan_join
from .parser import (
    ShExMLDocument,
    ShExMLParseError,
    SxExprPart,
    SxObject,
    SxShape,
)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

_FORMULATIONS = {
    "csvperrow": ReferenceFormulation.CSV_ROWS,
    "jsonpath": ReferenceFormulation.JSON_PATH,
    "xpath": ReferenceFormulation.XML_PATH,
    "sql": ReferenceFormulation.SQL_QUERY,
}


class _Branch:
    """One (source, iterator) pair — a scan branch of the plan."""

    def __init__(self, source_name: str, iterator_name: str, doc: ShExMLDocument):
        self.source = doc.sources[source_name]
        self.iterator = doc.iterators[iterator_name]
        self.key = f"{source_name}.{iterator_name}"
        self.columns = self._collect_columns()

    def _collect_columns(self) -> dict[str, str]:
        cols: dict[str, str] = {}

        def walk(fields, prefix=""):
            for f in fields:
                if f.is_iterator:
                    walk(f.fields, prefix=f"{prefix}{f.alias}.")
                else:
                    cols[f"{prefix}{f.alias}"] = f.query
        walk(self.iterator.fields)
        return cols

    def resolve_path(self, path: str, subpath: str = "") -> Optional[str]:
        """``source.iterator[.fieldpath]`` (+shape subpath) → column."""
        if path == self.key:
            local = subpath
        elif path.startswith(self.key + "."):
            local = path[len(self.key) + 1:]
            if subpath:
                local = f"{local}.{subpath}"
        else:
            return None
        return local if local in self.columns else None


def _iter_fields(fields) -> tuple[IterField, ...]:
    out = []
    for f in fields:
        out.append(IterField(alias=f.alias, reference=f.query,
                             inner_fields=_iter_fields(f.fields)
                             if f.is_iterator else ()))
    return tuple(out)


class _ShapeResolver:
    def __init__(self, doc: ShExMLDocument, branch: _Branch):
        self.doc = doc
        self.branch = branch
        self.renames: dict[str, str] = {}
        #: join alias → (left column, join source, join iterator, join
        #: field) — cross-source JOIN clauses resolved on this branch
        #: (beyond the reference: its ShExML translator leaves joins
        #: TODO, translator/src/shexml/mod.rs:84)
        self.joins: dict[str, tuple[str, str, str, str]] = {}

    _CALL_RE = re.compile(r"^\s*([\w.]+)\s*\(\s*(.*?)\s*\)\s*$")

    def resolve_expr(self, expr_text: str) -> Optional[Function]:
        """Shape expression text (e.g. ``films.goodReviews.review``,
        ``venues_union``, or a FUNCTIONS call ``helper.fn(films.name)``)
        → Function over this branch's columns, or None when the branch
        can't answer it."""
        call = self._CALL_RE.match(expr_text)
        if call:
            args = tuple(a.strip() for a in call.group(2).split(",")
                         if a.strip())
            return self._call_function(call.group(1), args)
        head, _, subpath = expr_text.partition(".")
        ai = self.doc.autoincrements.get(head)
        if ai is not None:
            # executable AUTOINCREMENT — numbering restarts per source
            # branch (deterministic and shuffle-free; a UNION expression
            # numbers each branch independently)
            return Function.auto_increment(start=ai.start, end=ai.end,
                                           step=ai.step, prefix=ai.prefix,
                                           suffix=ai.suffix)
        expr = self.doc.expressions.get(head)
        if expr is None:
            return None
        for part in expr.parts:
            fn = self._resolve_part(part, subpath)
            if fn is not None:
                return fn
        return None

    def _resolve_part(self, part: SxExprPart, subpath: str) -> Optional[Function]:
        cols = []
        for p in part.paths:
            col = self.branch.resolve_path(p, subpath)
            if col is None:
                return None
            cols.append(col)
        if part.join_path is not None:
            return self._resolve_join(part, cols, subpath)
        fn = Function.reference(cols[0])
        self.renames.setdefault(cols[0], cols[0])
        for sep, col in zip(part.separators, cols[1:]):
            self.renames.setdefault(col, col)
            fn = Function.concatenate(fn, sep, Function.reference(col))
        return fn

    def _resolve_join(self, part: SxExprPart, cols: list[str],
                      subpath: str) -> Optional[Function]:
        """``B JOIN C``: the value of B for rows whose B-value matches a
        C-value in C's iterator, null (→ suppressed triple) otherwise.

        Compiled as a LEFT equi-join of this branch against C's
        iterator projected to the join field, so the joined column
        equals the left value on match and null on miss — the
        expression simply references the joined column.  The parent
        side is not deduplicated: a value several parent rows hold
        repeats the child row, and the run's one distinct removes the
        repeated triples.  Other expressions' triples for unmatched rows
        survive (an inner join would drop them)."""
        if len(cols) != 1:
            return None  # concatenated left side: not join-keyable by attr
        bits = part.join_path.split(".")
        if len(bits) < 3:
            return None
        jsrc, jit, jfield = bits[0], bits[1], ".".join(bits[2:])
        if subpath:
            jfield = f"{jfield}.{subpath}"
        if jsrc not in self.doc.sources or jit not in self.doc.iterators:
            return None
        if self.doc.iterators[jit].iterator_type not in _FORMULATIONS:
            return None
        target = _Branch(jsrc, jit, self.doc)
        if jfield not in target.columns:
            return None
        for alias, spec in self.joins.items():
            if spec == (cols[0], jsrc, jit, jfield):
                return Function.reference(f"{alias}_{jfield}")
        alias = f"sxjoin{len(self.joins)}"
        self.joins[alias] = (cols[0], jsrc, jit, jfield)
        self.renames.setdefault(cols[0], cols[0])
        return Function.reference(f"{alias}_{jfield}")

    def apply_matcher(self, fn: Function, matcher_name: Optional[str]) -> Function:
        if matcher_name is None:
            return fn
        matcher = self.doc.matchers.get(matcher_name)
        if matcher is None:
            raise ShExMLParseError(f"undefined matcher {matcher_name!r}")
        return Function.replace(
            {k: set(v) for k, v in matcher.rename_map.items()}, fn)

    def _call_function(self, name: str,
                       args: tuple[str, ...]) -> Optional[Function]:
        """FUNCTIONS helper call → FnO Function, or None when the helper
        implementation isn't registered (term skipped — the reference
        skips FUNCTIONS/conditionals entirely) or an arg doesn't resolve
        on this branch.  Used by both direct call expressions
        (``[helper.fn(expr)]``) and ``IF`` conditions."""
        iri = f"shexml:{name}"
        from ..exec.functions import FNO_REGISTRY
        if iri not in FNO_REGISTRY:
            return None
        params: dict[str, Function] = {}
        for i, arg in enumerate(args):
            fn = self.resolve_expr(arg)
            if fn is None:
                return None
            params[f"arg{i}"] = fn
        return Function.fno(iri, params)

    def condition_function(self, cond) -> Optional[Function]:
        if cond is None:
            return None
        return self._call_function(cond[0], cond[1])

    def _apply_condition(self, fn: Optional[Function],
                         cond) -> Optional[Function]:
        """Wrap ``fn`` in the condition; a present-but-unresolvable
        condition drops the term (never emit unconditioned)."""
        if fn is None or cond is None:
            return fn
        cond_fn = self.condition_function(cond)
        return Function.conditional(fn, cond_fn) if cond_fn else None

    def subject_function(self, shape: SxShape) -> Optional[Function]:
        prefix_iri = self.doc.resolve_prefix(shape.subject_prefix)
        if shape.subject_constant is not None:
            fn = Function.iri(
                Function.constant(prefix_iri + shape.subject_constant))
        else:
            inner = self.resolve_expr(shape.subject_expression)
            if inner is None:
                return None
            fn = Function.iri(Function.concatenate(
                Function.constant(prefix_iri), "", Function.uri_encode(inner)))
        return self._apply_condition(fn, shape.subject_condition)

    def object_function(self, obj: SxObject) -> Optional[Function]:
        if obj.kind == "constant":
            return Function.iri(Function.constant(
                self.doc.resolve_prefix(obj.prefix) + obj.constant))
        if obj.kind == "literal":
            return Function.literal(Function.constant(obj.constant),
                                    dtype=self._dtype(obj),
                                    langtype=self._lang(obj))
        if obj.kind == "link":
            target = self.doc.shapes.get(obj.link_shape)
            if target is None:
                return None
            return self.subject_function(target)
        if obj.kind == "expr":
            inner = self.resolve_expr(obj.expression)
            if inner is None:
                return None
            inner = self.apply_matcher(inner, obj.matcher)
            if obj.prefix is not None:
                prefix_iri = self.doc.resolve_prefix(obj.prefix)
                fn = Function.iri(Function.concatenate(
                    Function.constant(prefix_iri), "",
                    Function.uri_encode(inner)))
            else:
                fn = Function.literal(inner, dtype=self._dtype(obj),
                                      langtype=self._lang(obj))
            return self._apply_condition(fn, obj.condition)
        raise ShExMLParseError(f"unknown object kind {obj.kind}")

    def _dtype(self, obj: SxObject) -> Optional[Function]:
        if not obj.datatype:
            return None
        p, _, local = obj.datatype.partition(":")
        return Function.constant(self.doc.resolve_prefix(p) + local)

    @staticmethod
    def _lang(obj: SxObject) -> Optional[Function]:
        return Function.constant(obj.language) if obj.language else None


def shexml_to_plan(doc: ShExMLDocument,
                   default_target: Optional[TargetOp] = None,
                   source_overrides: Optional[dict[str, str]] = None
                   ) -> PlanGraph:
    """Compile a parsed ShExML document to an operator plan graph."""
    graph = PlanGraph()
    if default_target is None:
        default_target = TargetOp.make({}, IOType.DATAFRAME, DataFormat.NQUADS)

    # (source, iterator) pairs actually used by expressions
    # (source dedup: each pair scanned once — source.rs:72-98)
    pairs: list[tuple[str, str]] = []
    for expr in doc.expressions.values():
        for part in expr.parts:
            for path in part.paths:
                bits = path.split(".")
                if len(bits) < 2:
                    continue
                pair = (bits[0], bits[1])
                if pair not in pairs and bits[0] in doc.sources \
                        and bits[1] in doc.iterators:
                    pairs.append(pair)

    for source_name, iterator_name in pairs:
        branch = _Branch(source_name, iterator_name, doc)
        resolver = _ShapeResolver(doc, branch)

        extend_pairs: dict[str, Function] = {}
        quad_lines: list[str] = []
        for s_idx, shape in enumerate(doc.shapes.values()):
            subj_fn = resolver.subject_function(shape)
            if subj_fn is None:
                continue
            subj_var = f"sh{s_idx}_subj"
            graph_var = None
            if shape.graph is not None:
                g_shape = doc.shapes.get(shape.graph)
                if g_shape is not None:
                    g_fn = resolver.subject_function(g_shape)
                else:
                    p, _, local = shape.graph.partition(":")
                    g_fn = Function.iri(Function.constant(
                        doc.resolve_prefix(p) + local))
                if g_fn is not None:
                    graph_var = f"sh{s_idx}_graph"
                    extend_pairs[graph_var] = g_fn
            emitted = False
            for p_idx, po in enumerate(shape.predicate_objects):
                if po.predicate_prefix == "__rdf_type__":
                    pred_iri = RDF_TYPE
                else:
                    pred_iri = doc.resolve_prefix(po.predicate_prefix) + \
                        po.predicate_local
                obj_fn = resolver.object_function(po.obj)
                if obj_fn is None:
                    continue
                pred_var = f"sh{s_idx}_p{p_idx}"
                obj_var = f"sh{s_idx}_o{p_idx}"
                extend_pairs[pred_var] = Function.iri(
                    Function.constant(pred_iri))
                extend_pairs[obj_var] = obj_fn
                line = f"?{subj_var} ?{pred_var} ?{obj_var}"
                if graph_var:
                    line += f" ?{graph_var}"
                quad_lines.append(line + " .")
                emitted = True
            if emitted:
                extend_pairs[subj_var] = subj_fn

        if not quad_lines:
            continue

        def branch_source_op(src_name: str, it_name: str) -> SourceOp:
            b = _Branch(src_name, it_name, doc)
            uri = b.source.uri
            if source_overrides and src_name in source_overrides:
                uri = source_overrides[src_name]
            rf_ = _FORMULATIONS[b.iterator.iterator_type]
            return SourceOp.make(
                {"source": uri, "iterator": b.iterator.query},
                IOType.FILE,
                SourceIterator(reference=b.iterator.query or None,
                               reference_formulation=rf_,
                               fields=_iter_fields(b.iterator.fields),
                               alias=b.key))

        rf = _FORMULATIONS.get(branch.iterator.iterator_type)
        if rf is None:
            continue  # sparql iterators: unsupported, skipped
            # (reference parity: its ShExML translator also skips them)
        plan = Plan(graph).source(branch_source_op(source_name, iterator_name))
        # projection: columns of THIS branch only — joined columns come
        # from the join parents; JOIN left keys must be projected even
        # when no expression references them directly
        needed = frozenset(
            c for fn in extend_pairs.values() for c in fn.references()
            if c in branch.columns) | \
            frozenset(spec[0] for spec in resolver.joins.values())
        if needed:
            plan = plan.apply(ProjectOp(projection_attributes=needed),
                              "Projection")
        # RenameOp kept for plan-shape parity with the reference
        # (rename.rs:45-84); our resolver already uses final names so
        # the map is identity over the referenced columns
        plan = plan.apply(RenameOp.make(dict(resolver.renames)), "Rename")
        # cross-source JOIN clauses: LEFT equi-join per join target
        # (see _ShapeResolver._resolve_join for the null-suppression
        # semantics); the parent is projected to its join field and not
        # deduplicated — the run's one distinct drops repeated triples
        for jalias, (left_col, jsrc, jit, jfield) in resolver.joins.items():
            parent = Plan(graph).source(branch_source_op(jsrc, jit))
            parent = parent.apply(
                ProjectOp(projection_attributes=frozenset({jfield})),
                "Projection")
            plan = plan_join(plan, parent).alias(jalias).theta_join(
                [(left_col, jfield)], PredicateType.EQ, JoinType.LEFT)
        plan = plan.apply(ExtendOp.make(extend_pairs), "Extend")
        plan = plan.serialize(SerializerOp(template="\n".join(quad_lines),
                                           format=DataFormat.NQUADS))
        plan.sink(default_target)

    return graph
