"""ShExML parser — recursive descent over the subset the reference
translates (shexml-interpreter/src/parser/mod.rs:46-99; document model
parser/type.rs:14-23, 100-111).

Supported: PREFIX (incl. blank), SOURCE, ITERATOR (csvperrow /
jsonpath / xpath, nested ITERATORs, FIELD incl. @attributes and
push/pop fields), EXPRESSION (basic / UNION / string concat),
MATCHER (value lists AS key), shapes with prefixed/blank subjects,
static objects, language tags, datatypes, MATCHING matchers,
@shape links, blank-node objects, and AUTOINCREMENT (parsed into
the document and executable — beyond the reference, whose translator
never emits it).  QUERY statements (named iterator query bodies)
resolve into the iterators that reference them; remote query-file
URLs are recorded and skipped (no network).  FUNCTIONS declarations
record the helper name; ``expr IF helper.fn(args)`` conditionals
parse into the document and execute when an implementation for the
helper is registered (``kgloom.engine.run_shexml(functions=...)``),
otherwise the conditioned term is skipped — reference parity: its
translator skips FUNCTIONS/QUERY/conditionals entirely (README
"Test cases").
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional

from ..syntax import Cursor


class ShExMLParseError(Exception):
    pass


@dataclass
class SxField:
    alias: str
    query: str
    fields: list["SxField"] = field(default_factory=list)
    is_iterator: bool = False


@dataclass
class SxIterator:
    name: str
    iterator_type: str  # csvperrow | jsonpath | xpath | sql | sparql
    query: str
    fields: list[SxField] = field(default_factory=list)
    raw_spec: str = ""  # original <...> body, for QUERY-name resolution


@dataclass
class SxSource:
    name: str
    uri: str


@dataclass
class SxExprPart:
    """One UNION branch of an expression: a concatenation of paths
    (with literal separators) rooted at source.iterator fields,
    optionally JOINed against a field of another iterator
    (shexml-interpreter/src/parser/type.rs:203 ExpressionStmtEnum::Join;
    the AST folds right, so ``A UNION B JOIN C`` = Union(A, Join(B, C)))."""

    paths: list[str]            # e.g. ["films_csv.film_csv.name"]
    separators: list[str]       # len = len(paths)-1
    join_path: Optional[str] = None  # "src.iter.field" of the join target


@dataclass
class SxExpression:
    name: str
    parts: list[SxExprPart]


@dataclass
class SxMatcher:
    name: str
    rename_map: dict[str, list[str]]  # key → values that map to it


@dataclass
class SxAutoIncrement:
    """AUTOINCREMENT name <["prefix" +] start [to end] [by step] [+ "suffix"]>
    (shexml-interpreter/src/parser/type.rs:285-292; syntax per the
    reference's parser tests, parser/tests.rs:1621)."""

    name: str
    start: int = 0
    end: Optional[int] = None
    step: int = 1
    prefix: str = ""
    suffix: str = ""


#: A parsed ``helper.fn(arg, ...)`` condition: (function ref, arg exprs).
SxCondition = tuple[str, tuple[str, ...]]


@dataclass
class SxObject:
    kind: str                      # expr | constant | link | literal
    prefix: Optional[str] = None   # prefix name for IRI objects
    expression: Optional[str] = None  # "films.id" or "venues_union"
    matcher: Optional[str] = None
    constant: Optional[str] = None
    link_shape: Optional[str] = None
    language: Optional[str] = None
    datatype: Optional[str] = None     # prefixed, e.g. "xsd:gYear"
    is_blank: bool = False
    condition: Optional[SxCondition] = None  # `expr IF helper.fn(args)`


@dataclass
class SxPredicateObject:
    predicate_prefix: str
    predicate_local: str
    obj: SxObject


@dataclass
class SxShape:
    name: str                       # prefixed name, e.g. ":Films"
    subject_prefix: str
    subject_expression: Optional[str]   # None for constant subjects
    subject_constant: Optional[str] = None
    graph: Optional[str] = None        # enclosing graph shape name
    predicate_objects: list[SxPredicateObject] = field(default_factory=list)
    subject_condition: Optional[SxCondition] = None  # gates the whole entity


@dataclass
class ShExMLDocument:
    prefixes: dict[str, str] = field(default_factory=dict)
    sources: dict[str, SxSource] = field(default_factory=dict)
    iterators: dict[str, SxIterator] = field(default_factory=dict)
    expressions: dict[str, SxExpression] = field(default_factory=dict)
    matchers: dict[str, SxMatcher] = field(default_factory=dict)
    autoincrements: dict[str, SxAutoIncrement] = field(default_factory=dict)
    queries: dict[str, str] = field(default_factory=dict)  # QUERY name → body
    function_sources: dict[str, str] = field(default_factory=dict)
    shapes: dict[str, SxShape] = field(default_factory=dict)
    skipped: list[str] = field(default_factory=list)

    def resolve_prefix(self, name: str) -> str:
        if name not in self.prefixes:
            raise ShExMLParseError(f"undefined prefix {name!r}:")
        return self.prefixes[name]


_TOKEN = re.compile(r"""
      (?P<skip>\s+|//[^\n]*|\#[^\n]*)
    | (?P<KW>\b(?:PREFIX|SOURCE|ITERATOR|FIELD|PUSHED_FIELD|POPPED_FIELD|
                EXPRESSION|MATCHER|AUTOINCREMENT|FUNCTIONS|QUERY)\b)
    | (?P<ANGLE><[^<>]*>)
    | (?P<STRING>"[^"\n]*")
    | (?P<NAME>[A-Za-z_][A-Za-z0-9_.-]*)
    | (?P<PUNCT>[:;{}\[\]()@,+])
    """, re.VERBOSE)


class _P(Cursor):
    grammar = _TOKEN
    error = ShExMLParseError

    def __init__(self, text: str):
        super().__init__(text)
        self.doc = ShExMLDocument()

    # ------------------------------------------------------------------
    def parse(self) -> ShExMLDocument:
        while self.peek()[0] is not None:
            kind, val = self.peek()
            if kind == "KW":
                getattr(self, f"_kw_{val.lower()}", self._kw_skip)()
            else:
                self._shape()
        self._resolve_query_refs()
        return self.doc

    def _resolve_query_refs(self) -> None:
        """Iterators whose ``<...>`` body names a QUERY statement take
        that query's body (post-parse so declaration order is free).
        Remote query-file URLs can't be fetched (no network): the
        iterator is recorded as skipped and left unresolvable, so the
        translator drops its branches — reference parity (the reference
        skips QUERY statements entirely, README "Test cases")."""
        for it in self.doc.iterators.values():
            body = self.doc.queries.get(it.raw_spec.strip())
            if body is None:
                continue
            if re.match(r"^\s*https?://", body):
                self.doc.skipped.append(
                    f"ITERATOR {it.name} <{it.raw_spec}> (remote query "
                    f"file not fetched: no network)")
                continue
            it.iterator_type, it.query = self._iterator_spec(body)

    def _angle(self) -> str:
        k, v = self.next()
        if k != "ANGLE":
            raise ShExMLParseError(f"expected <...>, got {v!r}")
        return v[1:-1]

    def _kw_prefix(self):
        self.next()  # PREFIX
        name = self.next()[1] if self.peek()[0] == "NAME" else ""
        self.expect(":")
        self.doc.prefixes[name] = self._angle()

    def _kw_source(self):
        self.next()
        name = self.next()[1]
        self.doc.sources[name] = SxSource(name=name, uri=self._angle())

    def _kw_iterator(self):
        self.next()
        name = self.next()[1]
        spec = self._angle()
        it_type, query = self._iterator_spec(spec)
        fields = self._field_block()
        self.doc.iterators[name] = SxIterator(name=name, iterator_type=it_type,
                                              query=query, fields=fields,
                                              raw_spec=spec)

    def _kw_query(self):
        """QUERY name <body> — a named iterator query body
        (shexml-interpreter parses these as source-adjacent declarations;
        the reference's translator skips them — this executes local
        jsonpath/xpath/sql bodies, beyond the reference)."""
        self.next()  # QUERY
        name = self.next()[1]
        self.doc.queries[name] = self._angle()

    def _kw_functions(self):
        """FUNCTIONS name <url> — records the helper namespace.  The
        external code (scala/java at a URL) is never loaded; conditionals
        referencing the helper execute only when implementations are
        registered (engine.run_shexml(functions=...)), else their terms
        are skipped."""
        self.next()  # FUNCTIONS
        name = self.next()[1]
        url = self._angle()
        self.doc.function_sources[name] = url
        self.doc.skipped.append(
            f"FUNCTIONS {name} <{url}> (external code not loaded; pass "
            f"functions= to supply implementations)")

    @staticmethod
    def _iterator_spec(spec: str) -> tuple[str, str]:
        s = spec.strip()
        if ":" in s and s.split(":", 1)[0].strip().lower() in (
                "jsonpath", "xpath", "sql", "sparql"):
            t, q = s.split(":", 1)
            return t.strip().lower(), q.strip()
        return s.lower(), ""  # csvperrow

    def _field_block(self) -> list[SxField]:
        self.expect("{")
        fields: list[SxField] = []
        while not self.accept("}"):
            kind, val = self.peek()
            if kind == "KW" and self.accept("FIELD", "PUSHED_FIELD",
                                            "POPPED_FIELD"):
                alias = self.next()[1]
                fields.append(SxField(alias=alias, query=self._angle()))
            elif kind == "KW" and self.accept("ITERATOR"):
                alias = self.next()[1]
                spec = self._angle()
                _, q = self._iterator_spec(spec)
                sub = SxField(alias=alias, query=q or spec, is_iterator=True)
                sub.fields = self._field_block()
                fields.append(sub)
            else:
                raise ShExMLParseError(f"unexpected token in iterator: {val!r}")
        return fields

    def _kw_expression(self):
        self.next()
        name = self.next()[1]
        body = self._angle()
        self.doc.expressions[name] = SxExpression(
            name=name, parts=self._parse_expr_body(body))

    @staticmethod
    def _parse_expr_body(body: str) -> list[SxExprPart]:
        parts = []
        for branch in re.split(r"\bUNION\b", body):
            join_path = None
            join_split = re.split(r"\bJOIN\b", branch)
            if len(join_split) == 2:
                branch, join_path = join_split[0], join_split[1].strip()
            elif len(join_split) > 2:
                raise ShExMLParseError(
                    f"at most one JOIN per union branch: {branch!r}")
            pieces = [p.strip() for p in branch.strip().split("+")]
            paths, seps = [], []
            for p in pieces:
                if p.startswith('"') and p.endswith('"'):
                    if not paths:
                        raise ShExMLParseError(
                            f"expression branch starts with literal: {branch!r}")
                    seps.append(p[1:-1])
                else:
                    if paths and len(seps) < len(paths):
                        seps.append("")  # implicit empty separator
                    paths.append(p)
            if len(seps) > len(paths) - 1:
                raise ShExMLParseError(f"dangling separator in {branch!r}")
            while len(seps) < len(paths) - 1:
                seps.append("")
            parts.append(SxExprPart(paths=paths, separators=seps,
                                    join_path=join_path))
        return parts

    def _kw_matcher(self):
        self.next()
        name = self.next()[1]
        body = self._angle()
        rename: dict[str, list[str]] = {}
        # "A, B AS X & C AS Y" — '&' separates groups
        for group in body.split("&"):
            m = re.match(r"^(.*)\bAS\b\s+([^\s]+)\s*$", group.strip())
            if not m:
                raise ShExMLParseError(f"bad matcher group {group!r}")
            values = [v.strip() for v in m.group(1).split(",") if v.strip()]
            rename[m.group(2).strip()] = values
        self.doc.matchers[name] = SxMatcher(name=name, rename_map=rename)

    _AUTOINC_RE = re.compile(
        r'^\s*(?:"(?P<prefix>[^"]*)"\s*\+\s*)?'
        r"(?P<start>\d+)"
        r"(?:\s+to\s+(?P<end>\d+))?"
        r"(?:\s+by\s+(?P<step>\d+))?"
        r'(?:\s*\+\s*"(?P<suffix>[^"]*)")?\s*$')

    def _kw_autoincrement(self):
        """AUTOINCREMENT name <["p" +] start [to end] [by step] [+ "s"]>
        — executable (beyond the reference, whose translator never emits
        a plan operator for it; grammar per parser/tests.rs:1621)."""
        self.next()  # AUTOINCREMENT
        name = self.next()[1]
        body = self._angle()
        m = self._AUTOINC_RE.match(body)
        if not m:
            raise ShExMLParseError(f"bad AUTOINCREMENT spec <{body}>")
        self.doc.autoincrements[name] = SxAutoIncrement(
            name=name,
            start=int(m.group("start")),
            end=int(m.group("end")) if m.group("end") else None,
            step=int(m.group("step")) if m.group("step") else 1,
            prefix=m.group("prefix") or "",
            suffix=m.group("suffix") or "")

    def _kw_skip(self):
        """FUNCTIONS / QUERY — recognized, skipped
        (reference README: unsupported features are skipped)."""
        kw = self.next()[1]
        parts = [kw]
        while self.peek()[0] is not None and self.peek()[0] != "KW" and \
                not self._at_shape_start():
            parts.append(self.next()[1])
        self.doc.skipped.append(" ".join(parts))

    def _at_shape_start(self) -> bool:
        k0, v0 = self.peek()
        k1, v1 = self.peek(1)
        k2, v2 = self.peek(2)
        if v0 == ":" and k1 == "NAME" and v2 in (":", "@", "["):
            return True
        if k0 == "NAME" and v1 == ":" and (k2 == "NAME" or v2 == "["):
            return True
        return False

    # -- shapes ----------------------------------------------------------
    def _prefixed_name(self) -> tuple[str, str]:
        """Parse ``prefix:local`` or ``:local``; returns (prefix, local)."""
        prefix = self.next()[1] if self.peek()[0] == "NAME" else ""
        self.expect(":")
        local = self.next()[1] if self.peek()[0] == "NAME" else ""
        return prefix, local

    def _shape(self, graph: Optional[str] = None):
        prefix, local = self._prefixed_name()
        shape_name = f"{prefix}:{local}"
        # graph shape: `:MyGraph [[ ...shapes... ]]` (parser/type.rs
        # graph_shapes) — shapes inside land in that named graph
        if self.at("[") and self.at("[", k=1):
            self.next(), self.next()
            while not (self.at("]") and self.at("]", k=1)):
                if self.peek()[0] is None:
                    raise ShExMLParseError("unterminated graph shape")
                self._shape(graph=shape_name)
            self.next(), self.next()
            return
        s_prefix, s_expr, s_const, s_cond = self._subject()
        shape = SxShape(name=shape_name, subject_prefix=s_prefix,
                        subject_expression=s_expr, subject_constant=s_const,
                        graph=graph, subject_condition=s_cond)
        self.expect("{")
        while not self.accept("}"):
            shape.predicate_objects.append(self._predicate_object())
            self.accept(";")
        self.doc.shapes[shape_name] = shape

    _COND_RE = re.compile(r"^\s*([\w.]+)\s*\(\s*(.*?)\s*\)\s*$")

    @classmethod
    def _split_condition(cls, body: str) -> tuple[str, Optional[SxCondition]]:
        """``expr IF helper.fn(a, b)`` → (expr, ("helper.fn", ("a","b")));
        no IF → (body, None)."""
        bits = re.split(r"\bIF\b", body, maxsplit=1)
        if len(bits) == 1:
            return body, None
        expr, cond_text = bits[0].strip(), bits[1].strip()
        m = cls._COND_RE.match(cond_text)
        if not m:
            raise ShExMLParseError(f"bad IF condition {cond_text!r}")
        args = tuple(a.strip() for a in m.group(2).split(",") if a.strip())
        return expr, (m.group(1), args)

    def _subject(self) -> tuple[str, Optional[str], Optional[str],
                                Optional[SxCondition]]:
        prefix = self.next()[1] if self.peek()[0] == "NAME" else ""
        self.expect(":")
        if self.accept("["):
            expr, cond = self._split_condition(self._expr_until("]"))
            return prefix, expr, None, cond
        if self.peek()[0] == "NAME":  # constant subject (FilmsAlt)
            return prefix, None, self.next()[1], None
        raise ShExMLParseError("shape subject must be prefix:[expression]")

    def _expr_until(self, closer: str) -> str:
        parts = []
        while not self.accept(closer):
            if self.peek()[0] is None:
                raise ShExMLParseError(f"missing {closer}")
            parts.append(self.next()[1])
        return " ".join(parts)

    def _predicate_object(self) -> SxPredicateObject:
        # `a` keyword predicate (rdf:type) unless 'a' is a declared prefix
        if "a" not in self.doc.prefixes and self.accept("a"):
            obj = self._object()
            return SxPredicateObject(predicate_prefix="__rdf_type__",
                                     predicate_local="type", obj=obj)
        p_prefix, p_local = self._prefixed_name()
        obj = self._object()
        return SxPredicateObject(predicate_prefix=p_prefix,
                                 predicate_local=p_local, obj=obj)

    def _object(self) -> SxObject:
        if self.accept("@"):  # '@shape' link
            prefix, local = self._prefixed_name()
            return SxObject(kind="link", link_shape=f"{prefix}:{local}")
        if self.accept("["):  # plain literal expression
            expr, matcher, cond = self._expr_and_matcher()
            obj = SxObject(kind="expr", prefix=None, expression=expr,
                           matcher=matcher, condition=cond)
            self._suffixes(obj)
            return obj
        k, v = self.peek()
        if k == "STRING":
            self.next()
            obj = SxObject(kind="literal", constant=v[1:-1])
            self._suffixes(obj)
            return obj
        # prefixed: either prefix:[expr] (IRI from expr) or prefix:local
        prefix = ""
        if k == "NAME" and self.at(":", k=1):
            prefix = self.next()[1]
        if not self.accept(":"):
            raise ShExMLParseError(f"unexpected object token {v!r}")
        if self.accept("["):
            expr, matcher, cond = self._expr_and_matcher()
            return SxObject(kind="expr", prefix=prefix, expression=expr,
                            matcher=matcher, condition=cond)
        local = self.next()[1]
        return SxObject(kind="constant", prefix=prefix, constant=local)

    def _expr_and_matcher(self) -> tuple[str, Optional[str],
                                         Optional[SxCondition]]:
        body, cond = self._split_condition(self._expr_until("]"))
        m = re.match(r"^(.*)\bMATCHING\b\s+([^\s]+)\s*$", body)
        if m:
            return m.group(1).strip(), m.group(2).strip(), cond
        return body.strip(), None, cond

    def _suffixes(self, obj: SxObject) -> None:
        if self.accept("@"):  # language tag
            obj.language = self.next()[1]
        elif self.peek()[0] == "NAME" and self.at(":", k=1):
            prefix = self.next()[1]
            self.next()
            local = self.next()[1]
            obj.datatype = f"{prefix}:{local}"


def parse_shexml(text: str) -> ShExMLDocument:
    return _P(text).parse()
