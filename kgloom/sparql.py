"""SPARQL SELECT over quad DataFrames — the SPARQL reference
formulation, executable.

The reference declares ``ReferenceFormulation::SPARQL`` and
``IOType::SPARQLEndpoint`` (`/root/reference/operator/src/formats.rs:11`,
`operator/src/lib.rs:369`) and ShExML fixtures carry endpoint SELECT
queries (``FilmsSparqlTest.shexml``), but nothing executes them.  Here
a SPARQL *subset* runs Spark-first over the engine's own structured
quad output ``(subj, pred, obj, graph)`` — so a constructed KG can be
queried (and can feed another mapping) without leaving Spark.

Supported subset (the mapping-source shape the fixtures use):
``PREFIX``, ``SELECT [DISTINCT] ?v ... | *``, aggregate projections
``(COUNT|SUM|AVG|MIN|MAX|SAMPLE|GROUP_CONCAT([DISTINCT] ?v | * | expr
[; SEPARATOR="s"]) AS ?alias)`` — the aggregate input may be any
builtin-library expression, e.g. ``SUM(?a * ?b)``, and a projection
may compute over aggregates, e.g. ``(COUNT(?o) * 2 AS ?n)`` — with
``GROUP BY``
(plain ``?var`` keys or ``(expr AS ?v)`` computed keys, §18.2.4.1;
with or without aggregates; bare GROUP BY = distinct keys) and
``HAVING``
(SAMPLE returns the lexical minimum, GROUP_CONCAT concatenates in
sorted order — both deterministic refinements of the
implementation-defined spec points), SPARQL-star quoted-triple
patterns ``<< s p o >>`` in subject/object positions of BGPs and
CONSTRUCT templates (one level; ground quoted triples collapse to
constant terms), basic graph patterns with ``;`` predicate lists
and ``,`` object lists, ``OPTIONAL`` groups, ``{ ... } UNION
{ ... }``, nested ``{}`` groups, ``GRAPH ?g|<iri> { ... }`` named-graph
scoping (the default BGP matches the union of all graphs; a GRAPH
scope propagates to nested groups), ``FROM <g>`` / ``FROM NAMED <g>``
dataset clauses (§13.2: FROM graphs merge into the active default
graph and lose their names; GRAPH patterns match only FROM NAMED
graphs), ``MINUS`` (anti join on the shared
variables; no shared variables removes nothing, §8.3), ``FILTER
[NOT] EXISTS`` (semi/anti join, sees all of the group's bindings),
``BIND(expr AS ?v)`` and scalar select expressions ``(expr AS ?v)``
in the projection (§18.2.4.4 Extend — applied after grouping, visible
to ORDER BY), with the SPARQL 1.1 builtin library: CONCAT / STR /
UCASE / LCASE / STRLEN / IRI / REPLACE / SUBSTR / STRBEFORE /
STRAFTER / ENCODE_FOR_URI / ABS / CEIL / FLOOR / ROUND (XPath
ties-toward-+inf) / MD5 / SHA1 / SHA256 / COALESCE / IF / LANG /
DATATYPE / STRLANG / STRDT + arithmetic,
``VALUES`` inline data (incl. ``UNDEF`` — an UNDEF cell joins as
compatible-with-anything per SPARQL §10.2), ``FILTER`` boolean
expressions
(comparisons between expressions, ``&&``/``||``/``!``, ``REGEX``,
``CONTAINS`` / ``STRSTARTS`` / ``STRENDS`` with a literal pattern,
``BOUND``, ``isIRI``/``isLITERAL``/``isBLANK``/``isTRIPLE``,
``e [NOT] IN (e1, e2, …)`` (all-number lists compare by value, others
by term identity), ``LANG(e) = "tag"`` (case-insensitive) — all
compiled to codegen'd Column predicates), ``HAVING`` conditions in
the same language, ``ORDER BY`` with ``ASC``/``DESC`` on variables,
expressions and aggregates (``ORDER BY DESC(COUNT(?x))`` — computed
as hidden grouping outputs), ``LIMIT`` /
``OFFSET`` (the §18.5 slice, applied after the sort), nested
``{ SELECT … }`` subqueries (§18.2.2.14 — evaluated bottom-up with
their own grouping and slice, then natural-joined into the enclosing
group; the outer prologue's prefixes stay in scope), ``ASK`` via
:func:`sparql_ask` (a limit-1 probe) — plus
``CONSTRUCT { template } WHERE { ... }`` (and the §10.2.3
``CONSTRUCT WHERE { bgp }`` shorthand) via :func:`sparql_construct`,
which returns a quad DataFrame (so a query result is itself a KG the
engine can serialize, re-query, or feed to another mapping), and
property paths in the predicate position: sequence ``p1/p2``, inverse
``^p``, alternation ``p1|p2``, grouping ``(p)`` and the closures
``p+`` / ``p*`` / ``p?`` and negated property sets ``!p`` /
``!(p1|^p2|...)``, plus ``DESCRIBE`` via :func:`sparql_describe`
(symmetric description: every quad whose subject or object is a
described resource).  Unsupported syntax raises ``SparqlError``
(``BASE``, ``SERVICE``, single-quoted and triple-quoted literals,
blank-node syntax).

Grammar.  One lexer (:data:`_TOKEN`) turns the text into tokens:
variables, ``<<``/``>>``, ``{|``/``|}``, IRIREFs (the §19.8 character
class — no whitespace, so ``?a < 3`` is a comparison), ``"…"`` literals
with ``@lang``/``^^dtype``, unsigned numbers, prefixed names, bare names
(keywords, function names, ``a``), punctuation ``; , . { } ( )`` and
operators ``&& || != <= >= = < > + - * / | ^ ? !``; ``#`` comments are
dropped.  Text inside a literal or an IRI is therefore never syntax.
One recursive-descent parser (:class:`_Parser`) reads the tokens for
every entry point, after a shared ``PREFIX`` prologue::

  Select    := SELECT [DISTINCT] (* | (?v | (Expr AS ?v))+)
               (FROM [NAMED] iri)* WHERE Group [GROUP BY (?v | (Expr AS ?v))+]
               [HAVING (Expr)+] [ORDER BY (?v | [ASC|DESC] (Expr) | call)+]
               [LIMIT n] [OFFSET n]
  Group     := { (Triples | { Select } | Group (UNION Group)* | OPTIONAL Group
               | GRAPH VarOrIri Group | MINUS Group | FILTER [NOT] EXISTS Group
               | FILTER ( Expr ) | BIND ( Expr AS ?v ) | VALUES Data | .)* }
  Triples   := Node Path Node (, Node)* [{| annotation |}] (; Path Node ...)*
  Path      := alternatives of sequences of ^, (…), !…, iri with + * ?
  Expr      := || over && over [!] (Sum [cmp Sum | [NOT] IN (Expr, …)]),
               Sum := + - over * / over (Expr), calls of the builtin
               library (REGEX, CONTAINS, BOUND, isIRI, IF, …), terms and
               aggregates (in the projection, HAVING and ORDER BY only)
  Ask       := ASK [WHERE] Group
  Construct := CONSTRUCT ({ Triples } WHERE Group | WHERE { Triples })
               [LIMIT n]
  Describe  := DESCRIBE (iri | ?v)+ [WHERE Group]
  Update    := op (; Prologue op)* — LOAD, CLEAR/DROP, ADD/COPY/MOVE,
               CREATE, INSERT/DELETE DATA, DELETE WHERE, [WITH iri]
               [DELETE Quads] [INSERT Quads] WHERE Group

The parser resolves every term as it reads it (prefixed names, ``a``,
literal escapes, signed numbers — a bare number is an ``xsd:integer``
or ``xsd:decimal`` literal), so the trees the executor compiles hold
rendered terms only.  Every expression — FILTER, BIND, IF, a select
expression, a GROUP BY key, HAVING, ORDER BY — is one ``Expr`` tree
compiled by one function, :func:`_expr_compile`; a comparison against
a number compares by value, two terms by their rendered strings.
Aggregates are hoisted to grouping outputs in one pass before the
grouped expressions compile.

Path execution is Spark-first: an atom is a constant-pred scan of the
quad DataFrame, ``/`` is a join on the intermediate node, ``|`` a
union, ``^`` an end swap — all lazy Catalyst plans.  ``p+``/``p*``
closures run through the engine-wide size-gated dispatcher
(:mod:`kgloom.ops.closure`): per-component in-task BFS for small
components, distributed log-round path doubling for giants; a GROUND
end routes through the seeded :func:`~kgloom.ops.closure.
anchored_closure` (edges restricted to the anchor's component before
closing, so work tracks the reachable region).  Per SPARQL §18.4
ArbitraryLengthPath the closure's pair set is distinct.  Non-closure paths keep multiset
semantics, matching the spec's translation to triple patterns.

Within a group, execution order is BGP → sub-groups/UNION → OPTIONAL →
VALUES → BIND → FILTER (a FILTER can see OPTIONAL- and BIND-introduced
variables; a BIND can see everything bound by the group's patterns).

Aggregate semantics: grouping keys are RDF terms (two literals that
differ only in language tag group separately, per SPARQL); ``COUNT``
counts bound solutions (``COUNT(*)`` counts rows), ``SUM``/``AVG``
cast the lexical form to double (unparseable values contribute null,
i.e. are ignored — Spark/SQL null-skipping aggregation), ``MIN``/
``MAX`` order numerically when the value parses as a number and
lexically otherwise, returning the lexical form.

Execution: each triple pattern is a constant-filtered scan of the quad
DataFrame projected to its variable columns; patterns natural-join on
shared variables (Catalyst picks hash/broadcast strategies; a
disjoint pattern cross-joins, a variable-free (ground) pattern is a
one-row existence probe).  ``OPTIONAL`` compiles to a left outer join
on the shared variables (unbound optional vars are nulls, exactly the
SPARQL unbound semantics); ``UNION`` to ``unionByName`` with missing
variables null-filled.  ``ORDER BY`` sorts numerically when the key
parses as a number (numeric-typed bindings), lexically otherwise —
each key sorts by (numeric cast, lexical) so mixed columns stay
deterministic.  Terms are matched in their *rendered* lexical form
(``<iri>`` / ``"lit"@lang``), exactly what the serializer emits;
SELECT output strips rendering back to plain values so downstream
mappings see endpoint-style bindings.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ops import closure
from .ops.star import UNQUOTE_RE
from .syntax import LITERAL_ESCAPES, Cursor, render_literal, unescape


class SparqlError(Exception):
    pass


@dataclass(frozen=True)
class Var:
    name: str


@dataclass(frozen=True)
class QuotedPattern:
    """SPARQL-star quoted-triple pattern ``<< s p o >>`` with at least
    one variable inside (ground quoted triples collapse to their
    rendered string term at parse time).  Legal in subject and object
    positions of a triple pattern and of a CONSTRUCT template."""

    s: "Term"
    p: "Term"
    o: "Term"

    def vars(self) -> set:
        return {t.name for t in (self.s, self.p, self.o)
                if isinstance(t, Var)}


Term = Union[Var, "QuotedPattern", str]  # non-var terms are rendered strings


# --- property paths (predicate position only) ------------------------------

@dataclass(frozen=True)
class PathSeq:
    """``p1/p2/...`` — end-to-end composition."""
    steps: tuple


@dataclass(frozen=True)
class PathAlt:
    """``p1|p2|...`` — union of alternatives."""
    branches: tuple


@dataclass(frozen=True)
class PathInv:
    """``^p`` — swapped subject/object."""
    inner: object


@dataclass(frozen=True)
class PathClosure:
    """``p+`` (one-or-more), ``p*`` (zero-or-more) or ``p?``
    (zero-or-one)."""
    inner: object
    mod: str  # '+' | '*' | '?'


@dataclass(frozen=True)
class PathNeg:
    """``!p`` / ``!(p1|^p2|...)`` — a negated property set: any
    forward edge whose predicate is not in ``fwd`` (when ``fwd`` has
    members), unioned with any reversed edge whose predicate is not in
    ``inv`` (when ``inv`` has members) — SPARQL 1.1 §9.1/§18.4."""
    fwd: tuple
    inv: tuple


Path = (PathSeq, PathAlt, PathInv, PathClosure, PathNeg)


@dataclass
class GroupPattern:
    """One ``{ ... }`` group: its own BGP + filters, plus nested
    OPTIONAL groups (left-joined in), UNION alternations (each a
    list of 2+ branch groups), ``BIND(expr AS ?v)`` assignments and
    ``VALUES`` inline-data blocks."""
    patterns: list[tuple[Term, Term, Term]] = field(default_factory=list)
    filters: list = field(default_factory=list)  # FILTER trees
    optionals: list["GroupPattern"] = field(default_factory=list)
    unions: list[list["GroupPattern"]] = field(default_factory=list)
    binds: list[tuple["Expr", str]] = field(default_factory=list)
    values: list[tuple[list[str], list[list[str]]]] = \
        field(default_factory=list)   # (vars, rendered-term rows)
    graphs: list[tuple[Term, "GroupPattern"]] = \
        field(default_factory=list)   # GRAPH ?g|<iri> { ... }
    minuses: list["GroupPattern"] = field(default_factory=list)
    exists: list[tuple[bool, "GroupPattern"]] = \
        field(default_factory=list)   # (negated?, group)
    subqueries: list["SelectQuery"] = field(default_factory=list)
    # nested { SELECT ... } groups, evaluated bottom-up (§18.2.2.14)
    # and natural-joined into the enclosing group on shared variables

    def is_empty(self) -> bool:
        return not (self.patterns or self.optionals or self.unions
                    or self.values or self.binds or self.graphs
                    or self.subqueries)


@dataclass(frozen=True)
class AggExpr:
    """One aggregate call ``FUNC([DISTINCT] * | expr)``; its argument
    (``('var', v)`` or any expression, e.g. ``SUM(?a * ?b)``) is
    evaluated per solution before aggregation."""
    func: str       # count | sum | avg | min | max | sample | group_concat
    arg: Optional[tuple]            # None = COUNT(*)
    distinct: bool
    sep: Optional[str] = None       # GROUP_CONCAT separator (default " ")


@dataclass
class SelectQuery:
    variables: list[str]            # output order: vars + aliases; [] = *
    distinct: bool
    group: GroupPattern             # the WHERE group
    #: (key Expr, descending); a key may hold aggregates
    #: (``ORDER BY DESC(COUNT(?x))``)
    order_by: list[tuple[Expr, bool]]
    limit: Optional[int] = None
    offset: Optional[int] = None
    group_by: list[str] = field(default_factory=list)
    #: ``GROUP BY (expr AS ?v)`` items (§18.2.4.1): the expression is
    #: computed as a pre-aggregation extend and ``?v`` joins group_by
    group_exprs: list[tuple[Expr, str]] = field(default_factory=list)
    #: ``HAVING (cond) ...`` conditions, which may hold aggregates
    having: list[Expr] = field(default_factory=list)
    #: select expressions ``(expr AS ?alias)`` — aggregates, or
    #: §18.2.4.4 Extend applied after grouping (so they may reference
    #: aggregate aliases) and before ORDER BY (so sort keys may
    #: reference them)
    select_exprs: list[tuple[str, Expr]] = field(default_factory=list)
    #: dataset clause (§13.2): ``FROM <g>`` graphs merge into the
    #: active default graph; ``FROM NAMED <g>`` graphs are the only
    #: ones GRAPH patterns may match.  Rendered IRIs; both empty =
    #: no dataset clause (union-default-graph reading).
    from_graphs: list[str] = field(default_factory=list)
    from_named: list[str] = field(default_factory=list)

    # root-level convenience views (back-compat for callers that only
    # deal in flat BGPs)
    @property
    def patterns(self):
        return self.group.patterns

    @property
    def filters(self):
        return self.group.filters


RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_XSD = "http://www.w3.org/2001/XMLSchema#"

#: the one lexer: every SPARQL text is read through it, so a keyword,
#: brace, ``#`` or ``;`` inside a literal or an IRI is token content.
#: IRIREF is the SPARQL 1.1 §19.8 class (no whitespace, so ``< 3`` is
#: less-than); numbers are unsigned (the parser joins a sign).
_TOKEN = re.compile(r"""
      (?P<skip>\s+|\#[^\n]*)
    | (?P<var>\?[A-Za-z_][A-Za-z0-9_]*)
    | (?P<qt><<|>>)
    | (?P<ann>\{\||\|\})
    | (?P<iri><[^<>"{}|^`\\\x00-\x20]*>)
    | (?P<lit>"(?:[^"\\]|\\.)*"
              (?:@[A-Za-z0-9-]+|\^\^<[^>]*>|\^\^[A-Za-z_][\w-]*:[\w-]+)?)
    | (?P<num>[0-9]+(?:\.[0-9]+)?)
    | (?P<pname>(?:[A-Za-z_][\w-]*)?:(?:[\w.-]*[\w-])?)
    | (?P<name>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<punct>[;,.{}()])
    | (?P<op>&&|\|\||!=|<=|>=|[=<>+\-*/|^?!])
    """, re.VERBOSE)

_LIT = re.compile(r'"((?:[^"\\]|\\.)*)"(?:@([A-Za-z0-9-]+)|\^\^<([^>]*)>'
                  r'|\^\^(\S+))?$', re.DOTALL)


def _quoted(s: Term, p: Term, o: Term) -> Term:
    """``<< s p o >>``: a :class:`QuotedPattern`, or its rendered
    string term when ground."""
    q = QuotedPattern(s, p, o)
    return q if q.vars() else f"<< {s} {p} {o} >>"


class _DefaultGraphOnly:
    """graph_term sentinel: a dataset clause is active and this scope
    is the DEFAULT graph — match only rows whose graph was nulled by
    the dataset rewrite (FROM-merged triples), never named graphs."""


_DEFAULT_ONLY = _DefaultGraphOnly()

_AGGS = ("COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT")
_CMP_OPS = ("=", "!=", "<", "<=", ">", ">=")
_PATH_OPS = ("/", "|", "^", "+", "*", "?", "!")

# Exprs are tuples — one tree for FILTER, BIND, IF, projections,
# GROUP BY, HAVING and ORDER BY:
#     ('var', name) | ('const', rendered_term)
#   | ('num', rendered_term, value)        a number token (typed literal)
#   | ('call', func, [args]) | ('arith', op, left, right)
#   | ('cmp', op, left, right) | ('in', expr, [members])
#   | ('or'|'and', [subs]) | ('not', sub)
#   | ('agg', AggExpr)          (projection, HAVING and ORDER BY only)

Expr = tuple

#: func -> exact arity, or (min, max), or None (variadic)
_EXPR_FUNCS: dict[str, object] = {
    "concat": None, "coalesce": (1, 64),
    "str": 1, "ucase": 1, "lcase": 1, "strlen": 1, "iri": 1, "uri": 1,
    "replace": 3, "substr": (2, 3), "strbefore": 2, "strafter": 2,
    "encode_for_uri": 1, "abs": 1, "ceil": 1, "floor": 1, "round": 1,
    "md5": 1, "sha1": 1, "sha256": 1, "if": 3,
    "lang": 1, "datatype": 1, "strlang": 2, "strdt": 2,
    # SPARQL-star accessors/constructor (RDF-star CG report sec. 7)
    "triple": 3, "subject": 1, "predicate": 1, "object": 1,
    # boolean: pattern and literal arguments must be string literals
    "regex": (2, 3), "contains": 2, "strstarts": 2, "strends": 2,
    "bound": 1, "isiri": 1, "isuri": 1, "isliteral": 1, "isblank": 1,
    "istriple": 1,
}


class _Parser(Cursor):
    """Recursive descent over the token list of one request.  The
    prologue's prefixes resolve every prefixed name as it is read, so
    the trees it returns hold rendered terms only.  Keywords match
    case-insensitively."""

    grammar = _TOKEN
    error = SparqlError
    keyword_kind = "name"

    def __init__(self, text: str):
        super().__init__(text)
        self.prefixes: dict[str, str] = {}
        self.aggs_ok = False   # inside a projection, HAVING or ORDER BY

    def parse(self, form):
        """Prologue, then ``form`` (a query-form method), then the end."""
        self.prologue()
        out = form(self)
        if self.i < len(self.toks):
            raise SparqlError(f"unexpected {self.toks[self.i][1]!r} after "
                              f"the end of the request")
        return out

    def var(self) -> str:
        kind, val = self.next()
        if kind != "var":
            raise SparqlError(f"expected a variable, got {val!r}")
        return val[1:]

    def at_kind(self, *kinds: str) -> bool:
        return self.peek()[0] in kinds

    # --- terms ---------------------------------------------------------------

    def prologue(self) -> None:
        while self.accept("PREFIX"):
            (kind, name), (ikind, iri) = self.next(), self.next()
            if kind != "pname" or not name.endswith(":") or ikind != "iri":
                raise SparqlError(f"bad PREFIX declaration at {name!r}")
            self.prefixes[name[:-1]] = iri[1:-1]
        if self.at("BASE"):
            raise SparqlError("unsupported SPARQL feature: BASE")

    def expand(self, pname: str) -> str:
        p, _, local = pname.partition(":")
        if p not in self.prefixes:
            raise SparqlError(f"undefined prefix {p!r}")
        return self.prefixes[p] + local

    def term(self) -> Term:
        """One variable or constant (rendered); a sign joins a number."""
        kind, val = self.next()
        if val in ("+", "-") and self.at_kind("num"):
            kind, val = "num", val + self.next()[1]
        if kind == "var":
            return Var(val[1:])
        if kind == "iri":
            return val
        if (kind, val) == ("name", "a"):
            return f"<{RDF_TYPE}>"
        if kind == "pname":
            return f"<{self.expand(val)}>"
        if kind == "num":
            return render_literal(val, None, _XSD + (
                "decimal" if "." in val else "integer"))
        if kind == "lit":
            m = _LIT.match(val)
            dtype = self.expand(m.group(4)) if m.group(4) else m.group(3)
            return render_literal(unescape(m.group(1), SparqlError),
                                  m.group(2), dtype)
        raise SparqlError(f"unexpected term {val!r}")

    def integer(self, what: str) -> int:
        kind, n = self.next()
        if kind != "num" or not n.isdigit():
            raise SparqlError(f"{what} needs an integer, got {n!r}")
        return int(n)

    def iri(self, what: str) -> str:
        t = self.term()
        if isinstance(t, Var) or not t.startswith("<"):
            raise SparqlError(f"{what} graph name must be an IRI")
        return t

    def graph_name(self) -> Term:
        if not self.at_kind("var", "iri", "pname"):
            raise SparqlError("GRAPH needs ?var or an IRI")
        return self.term()

    def string(self) -> str:
        """A literal that must be a plain string (a GROUP_CONCAT
        separator): its lexical form."""
        t = self.term()
        if isinstance(t, Var):
            raise SparqlError(f"expected a string literal, got ?{t.name}")
        return _unrender(t)

    def node(self) -> Term:
        """A subject/object term.  A SPARQL-star ``<< s p o >>`` (one
        level) with variables is a :class:`QuotedPattern`; a ground one
        collapses to its rendered string term, so constants flow
        through every other code path (INSERT DATA, equality filters)."""
        if not self.accept("<<"):
            return self.term()
        s = self.inner_node()
        p = self.term()
        o = self.inner_node()
        self.expect(">>", "quoted triple pattern missing '>>'")
        return _quoted(s, p, o)

    def inner_node(self) -> Term:
        t = self.node()
        if isinstance(t, QuotedPattern) or (isinstance(t, str)
                                            and t.startswith("<<")):
            raise SparqlError("nested quoted triples are unsupported")
        return t

    # --- property paths (predicate position) -------------------------------

    def path(self):
        """``|`` binds loosest, then ``/``, then unary ``^`` / postfix
        ``+ * ?``.  One plain IRI stays the rendered-string Term."""
        branches = [self.path_seq()]
        while self.accept("|"):
            branches.append(self.path_seq())
        return self.path_node(PathAlt, branches)

    def path_seq(self):
        steps = [self.path_unary()]
        while self.accept("/"):
            steps.append(self.path_unary())
        return self.path_node(PathSeq, steps)

    @staticmethod
    def path_node(cls, parts: list):
        if len(parts) == 1:
            return parts[0]
        if any(isinstance(p, Var) for p in parts):
            raise SparqlError("variables cannot appear inside a property path")
        return cls(tuple(parts))

    def path_unary(self):
        if self.accept("^"):
            node = PathInv(self.path_unary())
        elif self.accept("("):
            node = self.path()
            self.expect(")", "unbalanced parentheses in property path")
        elif self.accept("!"):
            fwd: list = []
            inv: list = []
            bracketed = self.accept("(")
            self.nps_member(fwd, inv)
            while bracketed and not self.accept(")"):
                if not self.accept("|"):
                    raise SparqlError(
                        "expected '|' or ')' in negated property set")
                self.nps_member(fwd, inv)
            node = PathNeg(tuple(fwd), tuple(inv))
        else:
            node = self.term()
            if isinstance(node, Var):
                # a predicate variable is a plain pattern, never a step
                if self.at(*_PATH_OPS):
                    raise SparqlError(
                        "variables cannot appear inside a property path")
                return node
            if not node.startswith("<"):
                raise SparqlError(
                    f"property path atoms must be IRIs, got {node!r}")
        while self.at("+", "*", "?"):
            node = PathClosure(node, self.next()[1])
        return node

    def nps_member(self, fwd: list, inv: list) -> None:
        inverse = self.accept("^")
        t = self.term()
        if isinstance(t, Var) or not t.startswith("<"):
            raise SparqlError("negated property set members must be IRIs")
        (inv if inverse else fwd).append(t)

    # --- triples and groups ------------------------------------------------

    def triples(self, out: list, subj: Optional[Term] = None) -> None:
        """One subject's ``;`` predicate list of ``,`` object lists;
        a SPARQL-star ``{| ... |}`` annotation hangs its own list off
        the quoted form of the triple it follows (``subj`` given: the
        list of an annotation block, which cannot nest)."""
        annotation = subj is not None
        if subj is None:
            subj = self.node()
        while True:
            pred = self.path()
            if annotation and isinstance(pred, Path):
                raise SparqlError(
                    "annotation predicate must be an IRI or variable")
            while True:
                obj = self.node()
                out.append((subj, pred, obj))
                if not annotation and self.accept("{|"):
                    if isinstance(pred, Path):
                        raise SparqlError(
                            "annotation on a property-path pattern")
                    self.triples(out, _quoted(subj, pred, obj))
                    self.expect("|}", "annotation block missing '|}'")
                if not self.accept(","):
                    break
            if not self.accept(";") or self.at(".", "}"):
                return

    def triples_block(self, out: list) -> None:
        """Triples up to and including the closing ``}``."""
        while not self.accept("}"):
            if not self.accept("."):
                self.triples(out)

    def group(self, what: str = "group") -> GroupPattern:
        """One ``{ ... }`` group pattern."""
        self.expect("{", f"{what} must be followed by a group")
        g = GroupPattern()
        while not self.accept("}"):
            if self.accept("."):
                continue
            if self.at("{"):
                self.sub_groups(g)
            elif self.accept("OPTIONAL"):
                g.optionals.append(self.group("OPTIONAL"))
            elif self.accept("GRAPH"):
                g.graphs.append((self.graph_name(), self.group("GRAPH")))
            elif self.accept("MINUS"):
                g.minuses.append(self.group("MINUS"))
            elif self.accept("FILTER"):
                negated = bool(self.accept("NOT"))
                if negated or self.accept("EXISTS"):
                    if negated:
                        self.expect("EXISTS")
                    g.exists.append((negated, self.group("FILTER EXISTS")))
                else:
                    self.expect("(", "unsupported FILTER syntax: FILTER "
                                     "needs ( ... ) or [NOT] EXISTS")
                    g.filters.append(self.expr())
                    self.expect(")")
            elif self.accept("BIND"):
                self.expect("(", "BIND must be followed by (expr AS ?var)")
                expr = self.expr()
                self.expect("AS", "BIND needs 'AS ?var'")
                g.binds.append((expr, self.var()))
                self.expect(")")
            elif self.accept("VALUES"):
                g.values.append(self.values())
            elif self.at("SERVICE"):
                raise SparqlError("unsupported SPARQL feature: SERVICE")
            else:
                self.triples(g.patterns)
        return g

    def sub_groups(self, g: GroupPattern) -> None:
        """``{ SELECT ... }`` (a subquery, evaluated bottom-up, §18.2.2.14)
        or ``{ ... } [UNION { ... }]*`` (a lone group is a 1-branch
        union, i.e. an inline group join)."""
        if self.at("SELECT", k=1):
            self.next()
            g.subqueries.append(self.select(sub=True))
            self.expect("}")
            if self.at("UNION"):
                raise SparqlError("a subquery cannot be a UNION branch")
            return
        branches = [self.group()]
        while self.accept("UNION"):
            if self.at("SELECT", k=1):
                raise SparqlError("a subquery cannot be a UNION branch")
            branches.append(self.group("UNION"))
        g.unions.append(branches)

    def values(self) -> tuple[list[str], list[list]]:
        """``VALUES ?v { t ... }`` or ``VALUES (?a ?b) { (t t) ... }``;
        ``UNDEF`` → None (joins as compatible-with-anything)."""
        multi = self.accept("(")
        vars_ = [self.var()]
        while multi and not self.accept(")"):
            vars_.append(self.var())
        self.expect("{", "VALUES needs a { data } block")
        rows = []
        while not self.accept("}"):
            if not multi:
                rows.append([self.value()])
                continue
            self.expect("(", "VALUES rows must be parenthesized")
            row = []
            while not self.accept(")"):
                row.append(self.value())
            if len(row) != len(vars_):
                raise SparqlError(f"VALUES row arity mismatch: {row}")
            rows.append(row)
        if not rows:
            raise SparqlError("empty VALUES block")
        return vars_, rows

    def value(self) -> Optional[str]:
        if self.accept("UNDEF"):
            return None
        t = self.term()
        if isinstance(t, Var):
            raise SparqlError("VALUES data must be constants")
        return t

    def where(self) -> GroupPattern:
        g = self.group("WHERE")
        if g.is_empty():
            raise SparqlError("empty basic graph pattern")
        return g

    # --- expressions: FILTER, BIND, IF, projection, GROUP BY, HAVING and
    #     ORDER BY all read this one grammar ------------------------------

    def expr(self) -> Expr:
        """``||`` of ``&&`` of [``!``] relations (n-ary nodes)."""
        ors = [self.conj()]
        while self.accept("||"):
            ors.append(self.conj())
        return ors[0] if len(ors) == 1 else ("or", ors)

    def conj(self) -> Expr:
        ands = [self.negation()]
        while self.accept("&&"):
            ands.append(self.negation())
        return ands[0] if len(ands) == 1 else ("and", ands)

    def negation(self) -> Expr:
        # ``!`` negates the whole relation: ``!?a = 1`` is ``!(?a = 1)``
        return ("not", self.negation()) if self.accept("!") else \
            self.relation()

    def relation(self) -> Expr:
        left = self.additive()
        op = self.accept(*_CMP_OPS)
        if op:
            return ("cmp", op, left, self.additive())
        negated = bool(self.accept("NOT"))
        if not (negated or self.accept("IN")):
            return left
        if negated:
            self.expect("IN")
        self.expect("(")
        members = [self.expr()]
        while self.accept(","):
            members.append(self.expr())
        self.expect(")")
        node = ("in", left, members)
        return ("not", node) if negated else node

    def additive(self) -> Expr:
        node = self.mul()
        while self.at("+", "-"):
            node = ("arith", self.next()[1], node, self.mul())
        return node

    def mul(self) -> Expr:
        node = self.primary()
        while self.at("*", "/"):
            node = ("arith", self.next()[1], node, self.primary())
        return node

    def primary(self) -> Expr:
        if self.accept("("):
            node = self.expr()
            self.expect(")", "unbalanced parentheses in expression")
            return node
        if self.at(*_AGGS) and self.at("(", k=1):
            if not self.aggs_ok:
                raise SparqlError("aggregates are allowed only in the "
                                  "projection, HAVING and ORDER BY")
            return ("agg", self.aggregate())
        if self.at_kind("name") and self.at("(", k=1):
            return self.call()
        number = self.peek(1 if self.at("+", "-") else 0)[0] == "num"
        t = self.term()
        if number:
            return ("num", t, float(_unrender(t)))
        return ("var", t.name) if isinstance(t, Var) else ("const", t)

    def call(self) -> Expr:
        func = self.next()[1].lower()
        if func not in _EXPR_FUNCS:
            raise SparqlError(f"unsupported function {func.upper()}")
        self.expect("(")
        args = [self.expr()]
        while self.accept(","):
            args.append(self.expr())
        self.expect(")", f"unbalanced parentheses in {func.upper()}(...)")
        arity = _EXPR_FUNCS[func]
        if isinstance(arity, int) and len(args) != arity:
            raise SparqlError(f"{func.upper()} takes {arity} argument(s)")
        if isinstance(arity, tuple) and not (
                arity[0] <= len(args) <= arity[1]):
            raise SparqlError(
                f"{func.upper()} takes {arity[0]}..{arity[1]} arguments")
        if func == "bound" and args[0][0] != "var":
            raise SparqlError("BOUND takes a variable")
        return ("call", "iri" if func == "uri" else func, args)

    def aggregate(self) -> AggExpr:
        """``FUNC([DISTINCT] * | expr [; SEPARATOR = "s"])``; the
        argument cannot hold another aggregate."""
        func = self.next()[1].lower()
        self.expect("(")
        distinct = bool(self.accept("DISTINCT"))
        arg = sep = None
        if self.accept("*"):
            if distinct or func != "count":
                raise SparqlError(f"{func.upper()}(*) only valid as COUNT(*)")
        else:
            self.aggs_ok = False
            arg = self.expr()
            self.aggs_ok = True
        if self.accept(";"):
            self.expect("SEPARATOR")
            self.expect("=")
            sep = self.string()
            if func != "group_concat":
                raise SparqlError("SEPARATOR is only valid in GROUP_CONCAT")
        self.expect(")")
        return AggExpr(func, arg, distinct, sep)

    def with_aggs(self, parse) -> Expr:
        """``parse()`` where aggregates are allowed."""
        self.aggs_ok = True
        try:
            return parse()
        finally:
            self.aggs_ok = False

    # --- query forms -------------------------------------------------------

    def select(self, sub: bool = False) -> SelectQuery:
        self.expect("SELECT",
                    "only SELECT ... WHERE { ... } queries supported")
        distinct = bool(self.accept("DISTINCT"))
        variables: list[str] = []
        select_exprs: list[tuple[str, Expr]] = []
        if not self.accept("*"):
            while self.at("(") or self.at_kind("var"):
                if not self.accept("("):
                    variables.append(self.var())
                    continue
                expr = self.with_aggs(self.expr)
                self.expect("AS", "projection expressions need (expr AS ?v)")
                alias = self.var()
                self.expect(")")
                select_exprs.append((alias, expr))
                variables.append(alias)
            if not variables:
                raise SparqlError(f"bad projection at {self.peek()[1]!r}")
        from_graphs: list[str] = []
        from_named: list[str] = []
        while not sub and self.accept("FROM"):
            (from_named if self.accept("NAMED") else from_graphs).append(
                self.iri("FROM"))
        self.expect("WHERE", "only SELECT ... WHERE { ... } queries supported")
        group = self.where()

        group_by: list[str] = []
        group_exprs: list[tuple[Expr, str]] = []
        if self.accept("GROUP"):
            self.expect("BY")
            while self.at("(") or self.at_kind("var"):
                if self.accept("("):
                    expr = self.expr()
                    self.expect("AS", "GROUP BY expression needs (expr AS ?v)")
                    name = self.var()
                    self.expect(")")
                    group_exprs.append((expr, name))
                else:
                    name = self.var()
                group_by.append(name)
            if not group_by:
                raise SparqlError(f"bad GROUP BY item: {self.peek()[1]!r}")
        having: list[Expr] = []
        if self.accept("HAVING"):
            while self.accept("("):
                having.append(self.with_aggs(self.expr))
                self.expect(")")
            if not having:
                raise SparqlError("HAVING needs ( condition )")
        # aggregates with no GROUP BY = one implicit group (valid SPARQL)
        grouped = bool(group_by) or any(
            _has_agg(e) for e in [*(e for _, e in select_exprs), *having])
        if grouped:
            aliases = {alias for alias, _ in select_exprs}
            bad = [v for v in variables
                   if v not in aliases and v not in group_by]
            if bad:
                raise SparqlError(
                    f"projected variables {bad} are neither aggregated nor "
                    f"GROUP BY keys")
            if not variables:
                raise SparqlError("SELECT * cannot be combined with GROUP BY")
        elif having:
            raise SparqlError("HAVING requires GROUP BY or an aggregate")

        order_by: list[tuple[Expr, bool]] = []
        if self.accept("ORDER"):
            self.expect("BY")
            while (key := self.order_key()) is not None:
                order_by.append(key)
            if not order_by:
                raise SparqlError(f"bad ORDER BY key {self.peek()[1]!r}")
            if not grouped and any(_has_agg(k) for k, _ in order_by):
                raise SparqlError(
                    "aggregate ORDER BY keys require GROUP BY or an "
                    "aggregated projection")
        limit = offset = None
        while slice_kw := self.accept("LIMIT", "OFFSET"):
            if slice_kw == "LIMIT":
                limit = self.integer(slice_kw)
            else:
                offset = self.integer(slice_kw)
        return SelectQuery(variables=variables, distinct=distinct,
                           group=group, order_by=order_by, limit=limit,
                           offset=offset, group_by=group_by,
                           group_exprs=group_exprs, having=having,
                           select_exprs=select_exprs,
                           from_graphs=from_graphs, from_named=from_named)

    def order_key(self) -> Optional[tuple[Expr, bool]]:
        """One ORDER BY condition as (key, descending), None past the
        last: ``?var``, ``ASC(expr)`` / ``DESC(expr)``, ``(expr)`` or a
        call (an aggregate call included)."""
        desc = False
        if self.at("ASC", "DESC") and self.at("(", k=1):
            desc = self.next()[1].upper() == "DESC"
        elif self.at_kind("var"):
            return ("var", self.var()), False
        elif not (self.at("(") or self.at_kind("name") and self.at("(", k=1)):
            return None
        return self.with_aggs(self.primary), desc

    def ask(self) -> GroupPattern:
        self.expect("ASK", "not an ASK query")
        self.accept("WHERE")
        return self.where()

    def construct(self):
        """→ (template triples, WHERE group, LIMIT or None)."""
        self.expect("CONSTRUCT", "not a CONSTRUCT query")
        if self.accept("WHERE"):
            # §10.2.3 CONSTRUCT WHERE shorthand: the WHERE pattern IS
            # the template — legal only for a plain BGP
            group = self.group("WHERE")
            if group != GroupPattern(patterns=group.patterns):
                raise SparqlError(
                    "CONSTRUCT WHERE shorthand allows only a basic graph "
                    "pattern (SPARQL 1.1 §10.2.3)")
            template = list(group.patterns)
        else:
            self.expect("{", "CONSTRUCT must be followed by a { template }")
            template = []
            self.triples_block(template)
            self.expect("WHERE",
                        "CONSTRUCT template must be followed by WHERE")
            group = self.where()
        if not template:
            raise SparqlError("empty CONSTRUCT template")
        for (s, p, _o) in template:
            if isinstance(s, str) and s.startswith('"'):
                raise SparqlError(
                    "CONSTRUCT template subject cannot be a literal")
            if isinstance(p, Path):
                raise SparqlError(
                    "property paths are not allowed in a CONSTRUCT template")
            if isinstance(p, QuotedPattern) or not (
                    isinstance(p, Var) or p.startswith("<")):
                raise SparqlError(
                    "CONSTRUCT template predicate must be an IRI")
        return (template, group,
                self.integer("LIMIT") if self.accept("LIMIT") else None)

    def describe(self):
        """→ (described IRIs, described variables, WHERE group or None)."""
        self.expect("DESCRIBE", "not a DESCRIBE query")
        consts: list[str] = []
        described: list[str] = []
        while self.peek()[0] is not None and not self.at("WHERE"):
            t = self.term()
            if isinstance(t, Var):
                described.append(t.name)
            elif t.startswith("<"):
                consts.append(t)
            else:
                raise SparqlError(
                    f"DESCRIBE takes IRIs or variables, got {t!r}")
        if not (consts or described):
            raise SparqlError("not a DESCRIBE query")
        group = self.where() if self.accept("WHERE") else None
        if described and group is None:
            raise SparqlError("DESCRIBE with variables requires WHERE")
        return consts, described, group

    # --- SPARQL 1.1 Update ---------------------------------------------------
    #
    # operations: ('load', path, graph IRI | None)
    #           | ('clear', CLEAR|DROP, graph IRI | DEFAULT|NAMED|ALL)
    #           | ('copy', ADD|COPY|MOVE, source, target)  (None = DEFAULT)
    #           | ('create',)
    #           | ('data', INSERT|DELETE, ground quads)
    #           | ('modify', delete quads | None, insert quads | None, WHERE)

    def update(self) -> list[tuple]:
        ops = []
        while self.peek()[0] is not None:
            ops.append(self.update_op())
            if not self.accept(";"):
                break
            self.prologue()
        if not ops:
            raise SparqlError("empty update script")
        return ops

    def update_op(self) -> tuple:
        if self.accept("LOAD"):
            self.accept("SILENT")
            kind, src = self.next()
            if kind != "iri":
                raise SparqlError(f"LOAD needs <path>, got {src!r}")
            into = self.accept("INTO")
            if into:
                self.expect("GRAPH")
            return ("load", src[1:-1], self.iri("LOAD") if into else None)
        verb = self.accept("CLEAR", "DROP")
        if verb:
            self.accept("SILENT")
            if self.accept("GRAPH"):
                return ("clear", verb, self.iri(verb))
            target = self.accept("DEFAULT", "NAMED", "ALL")
            if target is None:
                raise SparqlError(f"{verb} needs GRAPH <g>, DEFAULT, NAMED "
                                  f"or ALL")
            return ("clear", verb, target)
        verb = self.accept("ADD", "COPY", "MOVE")
        if verb:
            self.accept("SILENT")
            src = self.graph_or_default(verb)
            self.expect("TO")
            return ("copy", verb, src, self.graph_or_default(verb))
        if self.accept("CREATE"):
            # graphs have no independent existence in a quad table: an
            # empty graph IS absence — CREATE is a conformance no-op
            self.accept("SILENT")
            self.expect("GRAPH")
            self.iri("CREATE")
            return ("create",)
        with_g = self.iri("WITH") if self.accept("WITH") else None
        if self.at("INSERT", "DELETE") and self.at("DATA", k=1):
            if with_g is not None:
                raise SparqlError("WITH does not apply to DATA operations")
            verb = self.next()[1].upper()
            self.next()
            return ("data", verb,
                    self.quad_pattern(f"{verb} DATA", ground=True)[0])
        if self.at("DELETE") and self.at("WHERE", k=1):
            self.i += 2
            dels, group = self.quad_pattern("DELETE WHERE", with_g)
            ins = None
        else:
            dels = ins = None
            if self.at("DELETE") and self.at("{", k=1):
                self.next()
                dels = self.quad_pattern("DELETE template", with_g)[0]
            if self.at("INSERT") and self.at("{", k=1):
                self.next()
                ins = self.quad_pattern("INSERT template", with_g)[0]
            if dels is None and ins is None:
                raise SparqlError(f"unsupported update operation at "
                                  f"{self.peek()[1]!r}")
            if not self.accept("WHERE"):
                raise SparqlError("DELETE/INSERT templates require WHERE")
            group = self.where()
        if with_g is not None:
            # WITH sets the active graph for matching (§3.1.3): wrap
            # the whole WHERE in a GRAPH scope
            group = GroupPattern(graphs=[(with_g, group)])
        return ("modify", dels, ins, group)

    def graph_or_default(self, verb: str) -> Optional[str]:
        if self.accept("DEFAULT"):
            return None
        self.accept("GRAPH")
        return self.iri(verb)

    def quad_pattern(self, what: str, default_graph: Optional[str] = None,
                     ground: bool = False):
        """A DATA block or DELETE/INSERT template: triples plus
        ``GRAPH <iri>|?var { ... }`` blocks → ((s, p, o, g) quads, the
        same triples as a group pattern).  g is ``default_graph`` (the
        ``WITH`` graph, else None) outside GRAPH blocks.  Literal
        subjects, non-IRI predicates and paths are rejected (like
        CONSTRUCT templates), variables when ``ground``."""
        self.expect("{", f"{what} must be followed by {{ ... }}")
        g = GroupPattern()
        while not self.accept("}"):
            if self.accept("GRAPH"):
                gterm, sub = self.graph_name(), GroupPattern()
                self.expect("{", f"GRAPH must be followed by a group in "
                                 f"{what}")
                self.triples_block(sub.patterns)
                g.graphs.append((gterm, sub))
            elif not self.accept("."):
                self.triples(g.patterns)
        quads = [(*t, default_graph) for t in g.patterns] + \
            [(*t, gt) for gt, sub in g.graphs for t in sub.patterns]
        if not quads:
            raise SparqlError(f"empty {what} template")
        for (s, p, o, gt) in quads:
            if isinstance(p, Path):
                raise SparqlError(f"property paths are not allowed in {what}")
            if ground and any(isinstance(x, (Var, QuotedPattern))
                              for x in (s, p, o, gt)):
                raise SparqlError(f"{what} requires ground triples "
                                  f"(no variables)")
            if isinstance(s, str) and s.startswith('"'):
                raise SparqlError(f"{what} subject cannot be a literal")
            if not isinstance(p, Var) and not p.startswith("<"):
                raise SparqlError(f"{what} predicate must be an IRI")
            if isinstance(gt, str) and not gt.startswith("<"):
                raise SparqlError(f"{what} graph name must be an IRI")
        return quads, g


#: lexical form of a rendered term: IRIs lose <>, literals lose quotes
#: and @lang/^^dtype — the value an endpoint's JSON binding carries.
#: Cast-to-string first so the helper is safe on numeric columns
#: (aggregate outputs) as well as rendered-term strings.
def _lexical(col: F.Column) -> F.Column:
    col = col.cast("string")
    # quoted triples have no lexical form — project them verbatim
    # (checked before the IRI branch: "<< " also starts with "<")
    return (F.when(col.startswith("<<"), col)
            .when(col.startswith("<"),
                  F.regexp_extract(col, r"^<(.*)>$", 1))
            .when(col.startswith('"'),
                  F.regexp_extract(col, r'^"((?:[^"\\]|\\.)*)"', 1))
            .otherwise(col))


def _numeric(col: F.Column) -> F.Column:
    # try_cast, not cast: under ANSI mode (Spark 4 default) a plain cast
    # THROWS on non-numeric lexical forms (IRIs, names) the moment a
    # sort/filter evaluates it; SPARQL semantics want "not a number" =
    # unbound (null), never an error
    return _lexical(col).try_cast("double")


def _join_shared(left: DataFrame, right: DataFrame) -> DataFrame:
    common = [c for c in left.columns if c in right.columns]
    return left.join(right, on=common) if common else left.crossJoin(right)


# --- property-path evaluation ----------------------------------------------

def _graph_nodes(quads: DataFrame) -> DataFrame:
    """All RDF terms appearing as a node (subject or object) — the
    domain of zero-length path solutions (SPARQL 1.1 §18.4 ZeroLengthPath)."""
    return (quads.select(F.col("subj").alias("__node"))
            .unionByName(quads.select(F.col("obj").alias("__node")))
            .distinct())


def _path_pairs(quads: DataFrame, path) -> DataFrame:
    """All ``(__ps, __po)`` node pairs the path connects.  Atoms scan
    the quad DataFrame constant-filtered on ``pred`` (the filter
    reaches the source; Catalyst prunes to two columns); ``/`` joins on
    the intermediate node, ``|`` unions, ``^`` swaps ends.  Non-closure
    operators keep multiset semantics (the SPARQL translation to
    triple patterns); closures are distinct per §18.4."""
    if isinstance(path, str):  # IRI atom
        return (quads.where(F.col("pred") == F.lit(path))
                .select(F.col("subj").alias("__ps"),
                        F.col("obj").alias("__po")))
    if isinstance(path, PathInv):
        inner = _path_pairs(quads, path.inner)
        return inner.select(F.col("__po").alias("__ps"),
                            F.col("__ps").alias("__po"))
    if isinstance(path, PathSeq):
        out = _path_pairs(quads, path.steps[0])
        for step in path.steps[1:]:
            nxt = _path_pairs(quads, step)
            out = (out.alias("l")
                   .join(nxt.alias("r"), F.col("l.__po") == F.col("r.__ps"))
                   .select(F.col("l.__ps").alias("__ps"),
                           F.col("r.__po").alias("__po")))
        return out
    if isinstance(path, PathAlt):
        out = _path_pairs(quads, path.branches[0])
        for b in path.branches[1:]:
            out = out.unionByName(_path_pairs(quads, b))
        return out
    if isinstance(path, PathClosure):
        inner = _path_pairs(quads, path.inner)
        if path.mod == "+":
            return closure.transitive_closure(inner)
        zero = _graph_nodes(quads).select(
            F.col("__node").alias("__ps"), F.col("__node").alias("__po"))
        if path.mod == "?":
            return inner.distinct().unionByName(zero).distinct()
        return closure.transitive_closure(inner).unionByName(zero) \
            .distinct()
    if isinstance(path, PathNeg):
        parts = []
        if path.fwd:
            parts.append(
                quads.where(~F.col("pred").isin(list(path.fwd)))
                .select(F.col("subj").alias("__ps"),
                        F.col("obj").alias("__po")))
        if path.inv:
            parts.append(
                quads.where(~F.col("pred").isin(list(path.inv)))
                .select(F.col("obj").alias("__ps"),
                        F.col("subj").alias("__po")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    raise SparqlError(f"unsupported path {path!r}")  # pragma: no cover


def _exec_path_pattern(quads: DataFrame, s: Term, path, o: Term
                       ) -> DataFrame:
    """One ``?s <path> ?o`` pattern as a solution DataFrame, mirroring
    the plain-pattern binding rules (constant ends filter, repeated
    variables force equality, fully-ground patterns are a one-row
    existence probe).

    Closure paths with a ground end take the SEEDED route
    (:func:`kgloom.ops.closure.anchored_closure`): the edge relation is
    restricted to the anchor's connected component before closing, so
    work scales with the reachable region, not the whole graph's
    closure."""
    anchored = (isinstance(path, PathClosure) and path.mod in "+*"
                and not (isinstance(s, Var) and isinstance(o, Var)))
    if anchored:
        inner = _path_pairs(quads, path.inner)
        if not isinstance(s, Var):
            df = closure.anchored_closure(inner, [s], forward=True)
            ground = s
        else:
            df = closure.anchored_closure(inner, [o], forward=False)
            ground = o
        if path.mod == "*":
            # SPARQL §18.4 ZeroLengthPath: a ground term connects to
            # itself even when absent from the graph
            one = quads.sparkSession.createDataFrame(
                [(ground, ground)], "__ps string, __po string")
            df = df.unionByName(one).distinct()
    else:
        df = _path_pairs(quads, path)
    cols = []
    if isinstance(s, Var):
        cols.append(F.col("__ps").alias(s.name))
    else:
        # zero-length self-connection for the non-anchored fallback
        if (not anchored and isinstance(path, PathClosure)
                and path.mod in "*?"):
            one = quads.sparkSession.createDataFrame(
                [(s, s)], "__ps string, __po string")
            df = df.unionByName(one).distinct()
        df = df.where(F.col("__ps") == F.lit(s))
    if isinstance(o, Var):
        if isinstance(s, Var) and o.name == s.name:
            df = df.where(F.col("__ps") == F.col("__po"))
        else:
            cols.append(F.col("__po").alias(o.name))
    else:
        df = df.where(F.col("__po") == F.lit(o))
    if not cols:
        return df.select(F.lit(1).alias("__one")).limit(1)
    return df.select(*cols)


def _order_patterns(patterns: list[tuple[Term, Term, Term]]
                    ) -> list[tuple[Term, Term, Term]]:
    """Greedy BGP join ordering (inner natural joins are commutative
    and associative, so any order is semantics-preserving): start from
    the most selective pattern, then repeatedly take the most
    selective remaining pattern that SHARES a variable with what is
    already joined — connected patterns first, so a disconnected
    written order never forces an avoidable cross join mid-chain.
    Selectivity is the classic bound-position heuristic (Stocker et
    al., "SPARQL basic graph pattern optimization", WWW 2008): a bound
    subject narrows more than a bound object, which narrows more than
    a bound predicate.  Ties keep written order (stable)."""
    def score(pat) -> int:
        s, p, o = pat
        return ((0 if isinstance(s, Var) else 4)
                + (0 if isinstance(o, Var) else 2)
                + (0 if isinstance(p, Var) else 1))

    def pvars(pat) -> set:
        s, p, o = pat
        vs = set()
        for t in (s, o):
            if isinstance(t, Var):
                vs.add(t.name)
            elif isinstance(t, QuotedPattern):
                vs |= t.vars()
        if isinstance(p, Var):
            vs.add(p.name)
        return vs

    remaining = list(range(len(patterns)))
    ordered: list[int] = []
    bound: set = set()
    while remaining:
        pool = [i for i in remaining if pvars(patterns[i]) & bound] \
            if ordered else remaining
        pool = pool or remaining
        best = min(pool, key=lambda i: (-score(patterns[i]), i))
        ordered.append(best)
        remaining.remove(best)
        bound |= pvars(patterns[best])
    return [patterns[i] for i in ordered]


def _exec_bgp(quads: DataFrame,
              patterns: list[tuple[Term, Term, Term]],
              graph_term: Optional[Term] = None
              ) -> Optional[DataFrame]:
    """``graph_term`` scopes the BGP to named graphs (a ``GRAPH``
    group): a constant filters the ``graph`` column, a variable binds
    it per pattern (the natural join then unifies it across patterns,
    exactly like any other shared variable).  ``None`` — the default —
    matches the union of all graphs (union default graph, the usual
    quad-store reading)."""
    if isinstance(graph_term, str):
        quads = quads.where(F.col("graph") == F.lit(graph_term))
    elif isinstance(graph_term, Var):
        quads = quads.where(F.col("graph").isNotNull())
    elif isinstance(graph_term, _DefaultGraphOnly):
        # dataset rewrite nulled the graph of FROM-merged rows; the
        # default-graph scope matches exactly those
        quads = quads.where(F.col("graph").isNull())
    result: Optional[DataFrame] = None
    for (s, p, o) in _order_patterns(patterns):
        if isinstance(p, Path):
            if isinstance(graph_term, Var):
                raise SparqlError(
                    "property paths inside GRAPH ?var are unsupported "
                    "(use a constant graph IRI)")
            if isinstance(s, QuotedPattern) or isinstance(o, QuotedPattern):
                raise SparqlError(
                    "quoted triple patterns cannot anchor a property path")
            df = _exec_path_pattern(quads, s, p, o)
            result = df if result is None else _join_shared(result, df)
            continue
        df = quads
        positions = {"subj": s, "pred": p, "obj": o}
        if isinstance(graph_term, Var):
            positions["graph"] = graph_term
        bound: dict = {}  # var name → binding expression
        cols = []

        def _bind(term, expr):
            """Unify a pattern term against a column expression: a new
            var binds it, a repeated var equates it, a constant
            filters on it."""
            nonlocal df
            if isinstance(term, Var):
                if term.name in bound:  # same var twice in one pattern
                    df = df.where(expr.eqNullSafe(bound[term.name]))
                else:
                    bound[term.name] = expr
                    cols.append(expr.alias(term.name))
            else:
                df = df.where(expr == F.lit(term))

        for pos, term in positions.items():
            if isinstance(term, QuotedPattern):
                # SPARQL-star: the position holds a rendered quoted
                # triple; decompose in-plan (regexp_extract, codegen)
                # and unify the inner terms like any others
                df = df.where(F.col(pos).rlike(UNQUOTE_RE))
                for idx, sub in enumerate((term.s, term.p, term.o), 1):
                    _bind(sub, F.regexp_extract(F.col(pos), UNQUOTE_RE, idx))
            else:
                _bind(term, F.col(pos))
        if cols:
            df = df.select(*cols)
        else:
            # ground (variable-free) pattern: a one-row existence probe
            # — never a cross-product multiplier over duplicate quads
            df = df.select(F.lit(1).alias("__one")).limit(1)
        result = df if result is None else _join_shared(result, df)
    return result


def _nodes(e: Expr):
    """``e`` and every expression below it (not into aggregates)."""
    yield e
    for x in e[1:]:
        for sub in (x if isinstance(x, list) else [x]):
            if isinstance(sub, tuple):
                yield from _nodes(sub)


def _expr_vars(e: Expr) -> set[str]:
    return {n[1] for n in _nodes(e) if n[0] == "var"}


def _has_agg(e: Expr) -> bool:
    return any(n[0] == "agg" for n in _nodes(e))


def _check_bound(e: Expr, columns: list[str], what: str) -> None:
    missing = sorted(_expr_vars(e) - set(columns))
    if missing:
        raise SparqlError(f"{what} references unbound variables {missing}")


def _unrender(term: str) -> str:
    """Python-side inverse of :func:`~kgloom.syntax.render_literal`
    for a constant literal (used where an expression argument must be a
    plain string, e.g. REPLACE patterns)."""
    m = re.match(r'^"((?:[^"\\]|\\.)*)"', term)
    if m is None:
        raise SparqlError(f"expected a string literal, got {term!r}")
    return unescape(m.group(1), SparqlError)


def _escape_lit(col: F.Column) -> F.Column:
    """Rendered-literal escaping of a plain string column (the Column
    mirror of :func:`~kgloom.syntax.render_literal`)."""
    for raw, esc in LITERAL_ESCAPES:
        col = F.replace(col, F.lit(raw), F.lit(esc))
    return col


def _lex(e: Expr) -> F.Column:
    """An expression's lexical form (plain string)."""
    c, k = _expr_compile(e)
    if k == "term":
        return _lexical(c)
    return c.cast("string") if k in ("num", "bool") else c


def _num(e: Expr, compiled: Optional[tuple] = None) -> F.Column:
    """An expression as a double: a number token is its value, a term
    is the try_cast of its lexical form (null when not a number)."""
    if e[0] == "num":
        return F.lit(e[2])
    c, k = compiled or _expr_compile(e)
    if k == "num":
        return c
    return _numeric(c) if k == "term" else c.try_cast("double")


def _string_arg(e: Expr, func: str) -> str:
    if e[0] != "const":
        raise SparqlError(f"{func.upper()} needs a string literal argument")
    return _unrender(e[1])


def _bool(e: Expr) -> F.Column:
    """A FILTER, IF or HAVING condition as a boolean Column."""
    c, k = _expr_compile(e)
    if k != "bool":
        raise SparqlError("a condition must be a comparison, IN, a boolean "
                          "function or && || ! over them")
    return c


_LANG_TAG = r'@([A-Za-z0-9-]+)$'


def _compare(op: str, left: Expr, right: Expr) -> F.Column:
    """``left op right``: against a number both sides compare by
    value, otherwise two terms compare by their rendered strings.
    ``LANG(e) = "tag"`` matches literals only, case-insensitively."""
    for a, b in ((left, right), (right, left)):
        if (op in ("=", "!=") and a[:2] == ("call", "lang")
                and b[0] == "const"
                and re.fullmatch(r'"[A-Za-z0-9-]*"', b[1])):
            t = _expr_term(a[2][0])
            tag = F.lower(F.regexp_extract(t, _LANG_TAG, 1))
            eq = t.startswith('"') & (tag == b[1][1:-1].lower())
            return eq if op == "=" else ~eq
    lc, rc = _expr_compile(left), _expr_compile(right)
    if "num" in (left[0], right[0], lc[1], rc[1]):
        lhs, rhs = _num(left, lc), _num(right, rc)
    else:
        lhs, rhs = _render(*lc), _render(*rc)
    return {"=": lhs == rhs, "!=": lhs != rhs, "<": lhs < rhs,
            "<=": lhs <= rhs, ">": lhs > rhs, ">=": lhs >= rhs}[op]


def _expr_compile(e: Expr) -> tuple[F.Column, str]:
    """Compile an expression to ``(column, kind)`` with kind one of
    ``term`` (rendered RDF term), ``str`` (plain string), ``num``
    (double), ``iri`` (plain IRI string) or ``bool``.  Aggregates are
    hoisted to columns before this runs (:func:`_exec_select`)."""
    lex, num = _lex, _num
    if e[0] == "var":
        return F.col(e[1]), "term"
    if e[0] in ("const", "num"):
        return F.lit(e[1]), "term"
    if e[0] == "arith":
        op, l, r = e[1], num(e[2]), num(e[3])
        col = {"+": l + r, "-": l - r, "*": l * r, "/": l / r}[op]
        return col, "num"
    if e[0] in ("or", "and"):
        cols = [_bool(sub) for sub in e[1]]
        out = cols[0]
        for c in cols[1:]:
            out = (out | c) if e[0] == "or" else (out & c)
        return out, "bool"
    if e[0] == "not":
        # SPARQL !E is true only where E evaluates false (an unbound
        # operand is an error, not true) — Column ~ has exactly the
        # three-valued behavior we want (~null = null = filtered out)
        return ~_bool(e[1]), "bool"
    if e[0] == "cmp":
        return _compare(*e[1:]), "bool"
    if e[0] == "in":
        # the expansion e = m1 || e = m2 || …: an all-numeric list
        # compares by value (like _compare), others by rendered term
        if all(m[0] == "num" for m in e[2]):
            return num(e[1]).isin([m[2] for m in e[2]]), "bool"
        return _expr_term(e[1]).isin([_expr_term(m) for m in e[2]]), "bool"
    func, args = e[1], e[2]
    if func == "regex":
        pat = _string_arg(args[1], func)
        flags = _string_arg(args[2], func) if len(args) == 3 else ""
        return lex(args[0]).rlike(f"(?{flags}){pat}" if flags else pat), \
            "bool"
    if func in ("contains", "strstarts", "strends"):
        lit = _string_arg(args[1], func)
        c = lex(args[0])
        return {"contains": c.contains, "strstarts": c.startswith,
                "strends": c.endswith}[func](lit), "bool"
    if func == "bound":
        return F.col(args[0][1]).isNotNull(), "bool"
    if func in ("isiri", "isuri"):
        t = _expr_term(args[0])
        # a quoted triple also starts with "<" — exclude it
        return t.startswith("<") & ~t.rlike(UNQUOTE_RE), "bool"
    if func == "isliteral":
        return _expr_term(args[0]).startswith('"'), "bool"
    if func == "isblank":
        return _expr_term(args[0]).startswith("_:"), "bool"
    if func == "istriple":  # SPARQL-star isTRIPLE
        return _expr_term(args[0]).rlike(UNQUOTE_RE), "bool"
    if func == "concat":
        return F.concat(*[lex(a) for a in args]), "str"
    if func == "str":
        return lex(args[0]), "str"
    if func == "ucase":
        return F.upper(lex(args[0])), "str"
    if func == "lcase":
        return F.lower(lex(args[0])), "str"
    if func == "strlen":
        return F.length(lex(args[0])).cast("double"), "num"
    if func == "iri":
        return lex(args[0]), "iri"
    if func == "replace":
        if args[1][0] != "const" or args[2][0] != "const":
            raise SparqlError("REPLACE pattern/replacement must be literals")
        return F.regexp_replace(lex(args[0]),
                                _unrender(args[1][1]),
                                _unrender(args[2][1])), "str"
    if func == "substr":
        # SPARQL SUBSTR is 1-based (XPath fn:substring)
        pos = num(args[1]).cast("int")
        length = (num(args[2]).cast("int") if len(args) == 3
                  else F.lit(2147483647))
        return F.substring(lex(args[0]), pos, length), "str"
    if func == "strbefore":
        s, t = lex(args[0]), lex(args[1])
        pos = F.instr(s, t)
        # no-match → "" (fn:substring-before), not the whole string;
        # null (unbound operand = SPARQL error) stays null
        return (F.when(pos.isNull(), F.lit(None).cast("string"))
                .when(pos > 0, F.substring(s, F.lit(1), pos - 1))
                .otherwise(F.lit(""))), "str"
    if func == "strafter":
        s, t = lex(args[0]), lex(args[1])
        pos = F.instr(s, t)
        return (F.when(pos.isNull(), F.lit(None).cast("string"))
                .when(pos > 0,
                      F.substring(s, pos + F.length(t),
                                  F.lit(2147483647)))
                .otherwise(F.lit(""))), "str"
    if func == "encode_for_uri":
        from .exec.functions import uri_encode
        return uri_encode(lex(args[0])), "str"
    if func == "abs":
        return F.abs(num(args[0])), "num"
    if func == "ceil":
        return F.ceil(num(args[0])).cast("double"), "num"
    if func == "floor":
        return F.floor(num(args[0])).cast("double"), "num"
    if func == "round":
        # XPath fn:round: nearest integer, ties toward +inf — i.e.
        # floor(x + 0.5), NOT Spark's HALF_UP (which sends -2.5 to -3)
        return F.floor(num(args[0]) + F.lit(0.5)).cast("double"), "num"
    if func == "md5":
        return F.md5(lex(args[0])), "str"
    if func == "sha1":
        return F.sha1(lex(args[0])), "str"
    if func == "sha256":
        return F.sha2(lex(args[0]), 256), "str"
    if func == "coalesce":
        return F.coalesce(*[_expr_term(a) for a in args]), "term"
    if func == "if":
        return (F.when(_bool(args[0]), _expr_term(args[1]))
                .otherwise(_expr_term(args[2]))), "term"
    if func == "lang":
        t = _expr_term(args[0])
        # LANG of a non-literal is a type error → unbound (null); a
        # literal without a tag yields "" (SPARQL 1.1 §17.4.2.6)
        return (F.when(t.startswith('"'), F.regexp_extract(t, _LANG_TAG, 1))
                .otherwise(F.lit(None).cast("string"))), "str"
    if func == "datatype":
        t = _expr_term(args[0])
        return (F.when(t.rlike(r'\^\^<'),
                       F.regexp_extract(t, r'\^\^<(.*)>$', 1))
                .when(t.startswith('"') & t.rlike('@[A-Za-z0-9-]+$'),
                      F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                            "langString"))
                .when(t.startswith('"'),
                      F.lit("http://www.w3.org/2001/XMLSchema#string"))
                .otherwise(F.lit(None).cast("string"))), "iri"
    if func == "strlang":
        return F.concat(F.lit('"'), _escape_lit(lex(args[0])),
                        F.lit('"@'), lex(args[1])), "term"
    if func == "strdt":
        dtc, dtk = _expr_compile(args[1])
        dtl = _lexical(dtc) if dtk == "term" else dtc
        return F.concat(F.lit('"'), _escape_lit(lex(args[0])),
                        F.lit('"^^<'), dtl, F.lit(">")), "term"
    if func == "triple":
        # TRIPLE(s, p, o) -> the quoted-triple term; any null input
        # nulls the concat (SPARQL error propagation)
        return F.concat(F.lit("<< "), _expr_term(args[0]), F.lit(" "),
                        _expr_term(args[1]), F.lit(" "),
                        _expr_term(args[2]), F.lit(" >>")), "term"
    if func in ("subject", "predicate", "object"):
        t = _expr_term(args[0])
        idx = {"subject": 1, "predicate": 2, "object": 3}[func]
        # type error (not a quoted triple) -> unbound (null)
        return F.nullif(F.regexp_extract(t, UNQUOTE_RE, idx),
                        F.lit("")), "term"
    raise SparqlError(f"unsupported function {func!r}")  # pragma: no cover


def _expr_term(e: Expr) -> F.Column:
    """An expression as a *rendered term* column (what the solution
    DataFrame carries)."""
    return _render(*_expr_compile(e))


def _render(col: F.Column, kind: str) -> F.Column:
    if kind == "term":
        return col
    if kind == "iri":
        return F.concat(F.lit("<"), col, F.lit(">"))
    if kind == "bool":
        return F.concat(F.lit('"'), col.cast("string"),
                        F.lit(f'"^^<{_XSD}boolean>'))
    if kind == "num":
        col = col.cast("string")
    else:
        col = _escape_lit(col)
    return F.when(col.isNull(), F.lit(None).cast("string")) \
            .otherwise(F.concat(F.lit('"'), col, F.lit('"')))


def _exec_group(quads: DataFrame, g: GroupPattern,
                graph_term: Optional[Term] = None) -> DataFrame:
    """Execute one group: BGP join, then inline/UNION groups, then
    GRAPH groups, then OPTIONAL left joins, then MINUS anti joins, then
    the group's FILTERs (so a filter can see optionally-bound
    variables), then FILTER [NOT] EXISTS semi/anti joins (which see
    everything).  ``graph_term`` is the active graph (a GRAPH scope
    propagates to every nested group, per SPARQL §13.3)."""
    result = _exec_bgp(quads, g.patterns, graph_term)
    for branches in g.unions:
        dfs = [_exec_group(quads, b, graph_term)
               for b in branches]
        u = dfs[0]
        for d in dfs[1:]:
            # UNION branches may bind different variable sets — missing
            # variables are null-filled (SPARQL unbound semantics)
            u = u.unionByName(d, allowMissingColumns=True)
        result = u if result is None else _join_shared(result, u)
    for sq in g.subqueries:
        # bottom-up (§18.2.2.14): the subquery runs to completion —
        # its own grouping, ORDER/LIMIT/OFFSET slice — then its
        # projected bindings natural-join the enclosing group.  Terms
        # stay rendered so they join outer pattern bindings.
        sdf = _exec_select(quads, sq, raw_terms=True,
                           graph_term=graph_term)
        result = sdf if result is None else _join_shared(result, sdf)
    for gterm, sub in g.graphs:
        gdf = _exec_group(quads, sub, gterm)
        result = gdf if result is None else _join_shared(result, gdf)
    for opt in g.optionals:
        if result is None:
            raise SparqlError(
                "OPTIONAL requires a preceding pattern in its group")
        odf = _exec_group(quads, opt, graph_term)
        shared = [c for c in result.columns if c in odf.columns]
        if not shared:
            raise SparqlError(
                "OPTIONAL with no shared variables is unsupported")
        result = result.join(odf, on=shared, how="left")
    for mg in g.minuses:
        if result is None:
            raise SparqlError(
                "MINUS requires a preceding pattern in its group")
        sub = _exec_group(quads, mg, graph_term)
        shared = [c for c in result.columns if c in sub.columns]
        # no shared variables → no solution is compatible → MINUS
        # removes nothing (SPARQL §8.3); shared-var rows anti-join
        # (a null/unbound shared key never matches, so OPTIONAL-null
        # rows survive — the subset's documented reading of
        # compatibility over partially-bound solutions)
        if shared:
            result = result.join(sub.select(*shared).distinct(),
                                 on=shared, how="left_anti")
    for vars_, rows in g.values:
        vdf = quads.sparkSession.createDataFrame(
            rows, ", ".join(f"{v} string" for v in vars_))
        has_undef = any(t is None for row in rows for t in row)
        shared = [] if result is None else \
            [c for c in result.columns if c in vdf.columns]
        if result is None:
            result = vdf
        elif not (has_undef and shared):
            result = _join_shared(result, vdf)
        else:
            # UNDEF-aware compatibility join (SPARQL §10.2): an UNDEF
            # cell constrains nothing; on a match the merged binding
            # coalesces the bound side.  An unbound (OPTIONAL-null)
            # result cell is likewise compatible and takes the row's
            # value.  Inline data is tiny → Spark broadcasts it.
            right = vdf
            for v in shared:
                right = right.withColumnRenamed(v, f"__vd_{v}")
            cond = F.lit(True)
            for v in shared:
                cond = cond & (F.col(f"__vd_{v}").isNull() |
                               F.col(v).isNull() |
                               (F.col(f"__vd_{v}") == F.col(v)))
            result = result.join(right, cond, "inner")
            for v in shared:
                result = (result
                          .withColumn(v, F.coalesce(F.col(v),
                                                    F.col(f"__vd_{v}")))
                          .drop(f"__vd_{v}"))
    if result is None and g.binds:
        # a group of only BINDs starts from the single empty solution
        result = quads.sparkSession.range(1).select(
            F.lit(1).alias("__one"))
    if result is None:
        raise SparqlError("empty group pattern")
    for expr, name in g.binds:
        if name in result.columns:
            raise SparqlError(f"BIND target ?{name} is already bound")
        _check_bound(expr, result.columns, "BIND")
        result = result.withColumn(name, _expr_term(expr))
    for expr in g.filters:
        _check_bound(expr, result.columns, "FILTER")
        result = result.where(_bool(expr))
    for negated, eg in g.exists:
        sub = _exec_group(quads, eg, graph_term)
        shared = [c for c in result.columns if c in sub.columns]
        if shared:
            result = result.join(sub.select(*shared).distinct(),
                                 on=shared,
                                 how="left_anti" if negated else "left_semi")
        else:
            # variable-disjoint EXISTS: a pure emptiness probe on the
            # sub-pattern gates every solution
            probe = sub.select(F.lit(1).alias("__e")).limit(1)
            result = result.join(
                probe, F.lit(True),
                "left_anti" if negated else "left_semi")
    return result


def sparql_ask(quads: DataFrame, query: str) -> bool:
    """Execute a SPARQL ``ASK { ... }`` subset: True iff the pattern
    has at least one solution.  Compiles to the same group executor as
    SELECT with a ``limit(1)`` probe — one short-circuiting job, never
    a full materialization."""
    group = _Parser(query).parse(_Parser.ask)
    return _exec_group(quads, group).limit(1).count() > 0


def _agg_expr(a: AggExpr, alias: str) -> F.Column:
    # the aggregation input rendered to a term (a bound variable is
    # its column), so every branch below sees the same shape
    src = None if a.arg is None else _expr_term(a.arg)
    if a.func == "count":
        if src is None:
            e = F.count(F.lit(1))
        elif a.distinct:
            e = F.countDistinct(src)
        else:
            e = F.count(src)
    elif a.func in ("sum", "avg"):
        e = getattr(F, a.func)(_numeric(src))
    elif a.func == "sample":
        # §18.5.1.11 SAMPLE may return any value of the group; we pick
        # the lexical minimum so results are deterministic (and
        # relationally replayable)
        e = F.min(_lexical(src))
    elif a.func == "group_concat":
        # §18.5.1.7 leaves concatenation order undefined; we sort the
        # lexical forms for determinism.  DISTINCT → collect_set.
        vals = (F.collect_set(_lexical(src)) if a.distinct
                else F.collect_list(_lexical(src)))
        e = F.array_join(F.sort_array(vals),
                         a.sep if a.sep is not None else " ")
    else:  # min / max: numeric order when the value parses, else lexical
        c = src
        num = _numeric(c)
        if a.func == "min":
            # numerics (non-null cast) sort before non-numerics
            key = F.struct(num.isNull().cast("int").alias("nn"),
                           num.alias("num"), _lexical(c).alias("lex"))
            e = F.min(key).getField("lex")
        else:
            # numerics (non-null cast) sort after non-numerics, so max
            # also resolves numerically whenever any value is numeric
            key = F.struct(num.isNotNull().cast("int").alias("nn"),
                           num.alias("num"), _lexical(c).alias("lex"))
            e = F.max(key).getField("lex")
    return e.alias(alias)


def _exec_select(quads: DataFrame, q: SelectQuery,
                 raw_terms: bool = False,
                 graph_term: Optional[Term] = None) -> DataFrame:
    """Run a parsed SELECT to a solution DataFrame (also the subquery
    evaluator — ``raw_terms=True`` keeps rendered terms so the result
    joins enclosing patterns; ``graph_term`` propagates an active
    GRAPH scope into the subquery's group, §13.3)."""
    if q.from_graphs or q.from_named:
        if "graph" not in quads.columns:
            raise SparqlError(
                "FROM/FROM NAMED need a graph column on the input")
        g = F.col("graph")
        parts = []
        if q.from_graphs:
            # FROM graphs merge into the default graph: strip their
            # names so GRAPH patterns cannot see them (RDF merge)
            parts.append(quads.where(g.isin(q.from_graphs))
                         .withColumn("graph",
                                     F.lit(None).cast("string")))
        if q.from_named:
            parts.append(quads.where(g.isin(q.from_named)))
        view = parts[0]
        for p in parts[1:]:
            view = view.unionByName(p)
        quads = view
        if graph_term is None:
            graph_term = _DEFAULT_ONLY

    result = _exec_group(quads, q.group, graph_term)

    # one aggregate-hoisting pass: every aggregate in the projection,
    # HAVING and ORDER BY becomes a grouping output and its expression
    # reads that column.  A bare aggregate projection keeps its alias,
    # column type and un-lexicalised output; the others are hidden
    # columns that ride along until after the sort, then drop (a
    # project below a sort preserves ordering)
    aggs: list[tuple[AggExpr, str]] = []
    hidden: list[str] = []

    def hoist(e: Expr) -> Expr:
        if e[0] == "agg":
            hidden.append(f"__agg{len(aggs)}")
            aggs.append((e[1], hidden[-1]))
            return ("var", hidden[-1])
        return tuple(hoist(x) if isinstance(x, tuple) else
                     [hoist(y) for y in x] if isinstance(x, list) else x
                     for x in e)

    extends: list[tuple[str, Expr]] = []
    for alias, expr in q.select_exprs:
        if expr[0] == "agg":
            aggs.append((expr[1], alias))
        else:
            extends.append((alias, hoist(expr)))
    agg_outputs = {alias for alias, e in q.select_exprs if e[0] == "agg"}
    having = [hoist(h) for h in q.having]
    order = [(hoist(key), desc) for key, desc in q.order_by]

    if aggs or q.group_by:
        # GROUP BY (expr AS ?v): extend BEFORE grouping (§18.2.4.1)
        for gexpr, gname in q.group_exprs:
            if gname in result.columns:
                raise SparqlError(
                    f"GROUP BY alias ?{gname} is already bound")
            _check_bound(gexpr, result.columns, "GROUP BY expression")
            result = result.withColumn(gname, _expr_term(gexpr))
        missing = [v for v in q.group_by if v not in result.columns]
        if missing:
            raise SparqlError(
                f"aggregation references unbound variables {missing}")
        for a, _ in aggs:
            if a.arg is not None:
                _check_bound(a.arg, result.columns, "aggregation")
        exprs = [_agg_expr(a, name) for a, name in aggs]
        # grouping keys are the *rendered* terms (SPARQL groups by RDF
        # term identity); the keys are lexical-stripped on output below
        if not exprs:
            # GROUP BY with no aggregate projection = the distinct keys
            result = result.select(*q.group_by).distinct()
        else:
            result = (result.groupBy(*q.group_by).agg(*exprs)
                      if q.group_by else result.agg(*exprs))
        for cond in having:
            _check_bound(cond, result.columns, "HAVING")
            result = result.where(_bool(cond))

    # scalar select expressions (§18.2.4.4 Extend): after grouping so
    # they can reference aggregate aliases, before ORDER BY so sort
    # keys can reference them
    for alias, expr in extends:
        if alias in result.columns:
            raise SparqlError(f"select expression rebinds ?{alias}")
        _check_bound(expr, result.columns, "select expression")
        result = result.withColumn(alias, _expr_term(expr))

    # a variable key sorts in place; any other key is a hidden column
    sort_keys: list[tuple[str, bool]] = []
    for idx, (key, desc) in enumerate(order):
        if key[0] == "var":
            sort_keys.append((key[1], desc))
            continue
        _check_bound(key, result.columns, "ORDER BY")
        hidden.append(f"__ord{idx}")
        result = result.withColumn(hidden[-1], _expr_term(key))
        sort_keys.append((hidden[-1], desc))

    out_vars = q.variables or [c for c in result.columns
                               if c != "__one" and c not in hidden]
    missing = [v for v in out_vars if v not in result.columns] + \
        [name for name, _ in sort_keys if name not in result.columns]
    if missing:
        raise SparqlError(f"projection references unbound variables {missing}")
    result = result.select(*out_vars, *hidden)
    if not raw_terms:
        # aggregate outputs are already plain values (counts, sums,
        # min/max lexical forms) — strip only rendered-term columns
        result = result.select(
            *[F.col(v).alias(v) if v in agg_outputs
              else _lexical(F.col(v)).alias(v) for v in out_vars],
            *hidden)
    if q.distinct:
        # hidden keys are functions of the solution (per-group
        # aggregates / deterministic expressions), so dedup on the
        # projection alone is value-safe
        result = (result.dropDuplicates(out_vars) if hidden
                  else result.distinct())
    if sort_keys:
        # numeric-aware ordering: each key sorts by (numeric cast,
        # lexical form) so numeric bindings order numerically ('2' <
        # '10') while non-numeric bindings (null numeric key) keep a
        # deterministic lexical order among themselves
        keys = []
        for name, d in sort_keys:
            num = _numeric(F.col(name))
            keys.append(num.desc() if d else num.asc())
            keys.append(F.col(name).desc() if d else F.col(name).asc())
        result = result.orderBy(*keys)
    if q.offset:
        result = result.offset(q.offset)
    if q.limit is not None:
        result = result.limit(q.limit)
    if hidden:
        result = result.drop(*hidden)
    return result


def parse_sparql(text: str) -> SelectQuery:
    """Parse a SELECT query; :func:`sparql_select` calls it by this
    module-level name."""
    return _Parser(text).parse(_Parser.select)


def sparql_select(quads: DataFrame, query: str,
                  raw_terms: bool = False) -> DataFrame:
    """Execute a SPARQL SELECT subset over a ``(subj, pred, obj[, graph])``
    DataFrame of rendered terms.  Returns one column per projected
    variable — plain lexical values by default (endpoint-binding
    style), rendered terms with ``raw_terms=True``."""
    return _exec_select(quads, parse_sparql(query), raw_terms=raw_terms)


# ---------------------------------------------------------------------------
# CONSTRUCT
# ---------------------------------------------------------------------------

def sparql_construct(quads: DataFrame, query: str) -> DataFrame:
    """Execute a SPARQL CONSTRUCT subset over a ``(subj, pred, obj
    [, graph])`` DataFrame of rendered terms, returning a DataFrame of
    the same quad shape (``graph`` null — CONSTRUCT emits the default
    graph), so the result can feed :func:`sparql_select`, the N-Quads
    serializer, or another mapping.

    Semantics: the WHERE group produces solutions; each template triple
    is instantiated once per solution; instantiations with an unbound
    variable or a literal in the subject position are skipped (SPARQL
    1.1 §16.2); the result is a graph, i.e. de-duplicated.  Spark
    shape: one lazy plan — solutions × len(template) projections,
    unioned and made distinct; no collect, no Python row path.
    """
    template, group, limit = _Parser(query).parse(_Parser.construct)
    sol = _exec_group(quads, group)
    out = _instantiate_template(sol, template, "CONSTRUCT")
    if limit is not None:
        out = out.limit(limit)
    return out.withColumn("graph", F.lit(None).cast("string"))


def _instantiate_template(sol: DataFrame, template,
                          what: str = "template") -> DataFrame:
    """Instantiate a triple (or quad) template once per solution row
    (§16.2): instantiations with an unbound variable, a literal
    subject, or a literal/unbound graph are skipped; the result is a
    distinct (subj, pred, obj[, graph]) DataFrame — one lazy plan, no
    collect, no Python.  Template entries are 3-tuples (no graph
    column emitted) or 4-tuples whose 4th element is ``None`` (default
    graph → null), an IRI string, or a :class:`Var`."""
    parts = []
    for entry in template:
        s, p, o = entry[0], entry[1], entry[2]
        g = entry[3] if len(entry) > 3 else None
        with_graph = len(entry) > 3
        cols = []

        def tcol(term):
            if isinstance(term, Var):
                if term.name not in sol.columns:
                    raise SparqlError(
                        f"{what} references unbound "
                        f"variable ?{term.name}")
                return F.col(term.name)
            return F.lit(term)

        for pos, term in zip(("subj", "pred", "obj"), (s, p, o)):
            if isinstance(term, QuotedPattern):
                # CONSTRUCT-star: instantiate the quoted term from the
                # solution (concat null-propagates, so an unbound inner
                # var skips the instantiation via the keep filter)
                cols.append(F.concat(
                    F.lit("<< "), tcol(term.s), F.lit(" "),
                    tcol(term.p), F.lit(" "), tcol(term.o),
                    F.lit(" >>")).alias(pos))
            else:
                cols.append(tcol(term).alias(pos))
        keep = (F.col("subj").isNotNull()
                & F.col("pred").isNotNull()
                & F.col("obj").isNotNull()
                & ~F.col("subj").startswith('"')
                & F.col("pred").startswith("<"))
        if with_graph:
            if isinstance(g, Var):
                if g.name not in sol.columns:
                    raise SparqlError(
                        f"{what} references unbound variable ?{g.name}")
                cols.append(F.col(g.name).alias("graph"))
                keep = (keep & F.col("graph").isNotNull()
                        & ~F.col("graph").startswith('"'))
            else:
                cols.append(F.lit(g).cast("string").alias("graph"))
        parts.append(sol.select(*cols).where(keep))
    out = parts[0]
    for t in parts[1:]:
        out = out.unionByName(t)
    return out.distinct()


def sparql_describe(quads: DataFrame, query: str) -> DataFrame:
    """Execute a SPARQL DESCRIBE subset: ``DESCRIBE <iri>... [WHERE
    {...}]`` or ``DESCRIBE ?v... WHERE {...}``.  The description form
    is implementation-defined per SPARQL 1.1 §16.4; here it is the
    SYMMETRIC description — every quad whose subject or object is a
    described resource — returned in the input's quad shape.

    Spark shape: the resource set (constants + the DISTINCT bindings
    of the described variables, IRI-valued only) is one small
    DataFrame; the description is two semi joins against it (subject
    side and object side — typically broadcast, AQE decides), unioned
    and de-duplicated.  No collect; resources discovered by the WHERE
    group never reach the driver."""
    consts, described_vars, group = _Parser(query).parse(_Parser.describe)
    resources = quads.sparkSession.createDataFrame(
        [(c,) for c in consts], "__r string")
    if described_vars:
        sol = _exec_group(quads, group)
        missing = [v for v in described_vars if v not in sol.columns]
        if missing:
            raise SparqlError(
                f"DESCRIBE references unbound variables {missing}")
        for v in described_vars:
            resources = resources.unionByName(
                sol.select(F.col(v).alias("__r"))
                .where(F.col("__r").startswith("<")))
    resources = resources.distinct()
    cols = quads.columns
    by_subj = quads.join(resources, quads["subj"] == resources["__r"],
                         "left_semi")
    by_obj = quads.join(resources, quads["obj"] == resources["__r"],
                        "left_semi")
    return by_subj.unionByName(by_obj).select(*cols).distinct()


# ---------------------------------------------------------------------------
# UPDATE
# ---------------------------------------------------------------------------

def _apply_update_op(out: DataFrame, op: tuple) -> DataFrame:
    """Apply one parsed update operation (see ``_Parser.update``)."""
    spark = out.sparkSession
    key = ["subj", "pred", "obj"]
    has_graph = "graph" in out.columns
    kind = op[0]

    def need_graph(what: str) -> None:
        if not has_graph:
            raise SparqlError(
                f"{what} needs a quad store (no graph column)")

    def graph_pred(g):  # g None = the default graph
        return F.col("graph").isNull() if g is None \
            else F.col("graph").eqNullSafe(F.lit(g))

    def apply_delete(base: DataFrame, dels: DataFrame) -> DataFrame:
        """``dels`` is a quad set; rows with a null graph delete EVERY
        graph's copy of the triple (the documented triple-set view of
        unscoped templates), rows with a graph delete only that
        graph's copy.  Both are left-anti joins."""
        any_g = dels.where(F.col("graph").isNull()).select(*key)
        new = base.join(any_g, key, "left_anti")
        scoped = dels.where(F.col("graph").isNotNull())
        if has_graph:
            new = new.join(scoped, key + ["graph"], "left_anti")
        return new

    def insert_new(base: DataFrame, add: DataFrame) -> DataFrame:
        # set semantics: on a quad store the key is the full quad
        # (null graph = the default graph, null-safe compare); on a
        # bare triple store it is the triple.  Only triples absent
        # from the (post-delete) store are added — an anti join, so
        # the touched data, not the whole store, pays the dedup cost.
        if has_graph:
            b = base.select(*key, "graph").distinct().alias("__b")
            a = add.alias("__a")
            cond = (F.col("__a.subj") == F.col("__b.subj")) \
                & (F.col("__a.pred") == F.col("__b.pred")) \
                & (F.col("__a.obj") == F.col("__b.obj")) \
                & F.col("__a.graph").eqNullSafe(F.col("__b.graph"))
            new = a.join(b, cond, "left_anti")
        else:
            new = add.select(*key).join(
                base.select(*key).distinct(), key, "left_anti")
        return base.unionByName(new, allowMissingColumns=True)

    if kind == "load":
        # LOAD <path> [INTO GRAPH <g>]: the distributed N-Quads source
        # (kgloom/exec/rdfsource.py — spark.read.text + codegen regex,
        # scales to dump-sized files) unioned in with insert set
        # semantics.  INTO GRAPH retargets every loaded quad (SPARQL
        # 1.1 Update §3.1.4); without it, N-Quads graph labels are
        # kept (dropped on a bare triple store).
        from .exec.rdfsource import read_nquads
        _, path, into = op
        if path.startswith("file://"):
            path = path[len("file://"):]
        elif re.match(r"^[a-z][a-z0-9+.-]*://", path):
            # remote fetches from executors are a different feature
            # (and an SSRF surface) — local dumps only
            raise SparqlError(
                f"unsupported LOAD scheme in <{op[1]}> "
                f"(local paths / file:// only)")
        df = read_nquads(spark, path)
        if into is not None:
            need_graph("LOAD INTO GRAPH")
            df = df.withColumn("graph", F.lit(into).cast("string"))
        return insert_new(out, df)

    if kind == "clear":
        _, verb, target = op
        need_graph(verb)
        if target == "ALL":
            return out.where(F.lit(False))
        if target == "NAMED":
            return out.where(F.col("graph").isNull())
        if target == "DEFAULT":
            return out.where(F.col("graph").isNotNull())
        return out.where(~graph_pred(target))

    if kind == "copy":
        _, verb, src, dst = op
        need_graph(verb)
        if src == dst:
            return out
        moved = (out.where(graph_pred(src))
                 .withColumn("graph", F.lit(dst).cast("string")))
        if verb == "ADD":
            return insert_new(out, moved)
        base = out.where(~graph_pred(dst))
        if verb == "MOVE":
            base = base.where(~graph_pred(src))
        return base.unionByName(moved)

    if kind == "create":
        return out

    if kind == "data":
        _, verb, quads = op
        if any(g is not None for (_, _, _, g) in quads):
            need_graph(f"GRAPH in {verb} DATA")
        df = spark.createDataFrame(
            quads, "subj string, pred string, obj string, graph string")
        if verb == "DELETE":
            return apply_delete(out, F.broadcast(df))
        return insert_new(out, df)

    # DELETE/INSERT ... WHERE (DELETE WHERE: the pattern is the delete
    # template): both templates instantiate against the PRE-update
    # state (SPARQL 1.1 Update §3.1.3: the WHERE is evaluated once,
    # DELETE applies before INSERT)
    _, del_t, ins_t, where = op
    if any(t[3] is not None for t in (del_t or []) + (ins_t or [])):
        need_graph("GRAPH in update template")
    sol = _exec_group(out, where)
    new_out = out
    if del_t is not None:
        dels = _instantiate_template(sol, del_t, "DELETE template")
        new_out = apply_delete(new_out, dels)
    if ins_t is not None:
        ins = _instantiate_template(sol, ins_t, "INSERT template")
        new_out = insert_new(new_out, ins)
    return new_out


def sparql_update(quads: DataFrame, update: str) -> DataFrame:
    """Execute a SPARQL 1.1 Update subset over a ``(subj, pred, obj
    [, graph])`` DataFrame — functional, not in place: returns the
    updated quad DataFrame as one lazy plan (the input is never
    mutated; persist or write the result to adopt it).

    Supported operations (``;``-separated sequences run in order, each
    against the previous operation's result; the whole script is parsed
    before the first one runs): ``INSERT DATA {…}``,
    ``DELETE DATA {…}``, ``DELETE WHERE {…}`` (the pattern is both the
    match and the delete template), ``[WITH <g>] DELETE {…} INSERT {…}
    WHERE {…}`` with either template optional, and — on quad stores —
    the graph-management family ``CLEAR|DROP [SILENT] GRAPH <g> |
    DEFAULT | NAMED | ALL``, ``ADD|COPY|MOVE [SILENT] <g1>|DEFAULT TO
    <g2>|DEFAULT``, ``LOAD [SILENT] <path-or-file-uri> [INTO GRAPH
    <g>]`` (the distributed N-Quads source with insert set semantics)
    and the ``CREATE GRAPH`` no-op (an empty graph IS
    absence in a quad table).  Templates and DATA blocks may contain
    ``GRAPH <iri>|?var { … }`` blocks; ``WITH <g>`` scopes both the
    WHERE matching and any unscoped template triples to ``<g>``.
    Within one operation the WHERE matches the pre-update state and
    DELETE applies before INSERT (SPARQL 1.1 Update §3.1.3).

    Semantics note: UNSCOPED template triples keep the engine's
    triple-set view — matching spans all graphs (like this engine's
    BGPs), an unscoped delete removes every graph's copy of a matched
    triple, and unscoped inserts land in the default graph (null
    ``graph``); GRAPH-scoped (or WITH-scoped) triples are quad-precise
    on both sides.  On a quad store the insert set-key is the full
    quad (null-safe on graph), on a bare triple store the triple;
    duplicate inserts are suppressed by an anti join rather than a
    full distinct, so the touched data — not the whole store — pays
    the dedup cost.  Spark shape: deletes are left-anti joins (ground
    DATA blocks broadcast), inserts are anti-join + union, CLEAR/DROP
    are filters, ADD/COPY/MOVE are filter + retarget + union; no
    collect, no Python.  For long scripts, localCheckpoint
    intermittently — each operation adds joins to the lazy plan.

    The reference has no update surface at all (its SPARQL enum is
    source-only, `/root/reference/operator/src/lib.rs:369`); this
    completes the engine's read-query surface with the maintenance
    half a KG store needs.
    """
    out = quads
    for op in _Parser(update).parse(_Parser.update):
        out = _apply_update_op(out, op)
    return out
