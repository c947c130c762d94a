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
builtin-library expression, e.g. ``SUM(?a * ?b)`` — with ``GROUP BY``
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
ties-toward-+inf) / MD5 / SHA1 / SHA256 / COALESCE / IF (condition in
the FILTER grammar) / LANG / DATATYPE / STRLANG / STRDT + arithmetic,
``VALUES`` inline data (incl. ``UNDEF`` — an UNDEF cell joins as
compatible-with-anything per SPARQL §10.2), ``FILTER`` boolean
expressions
(comparisons on variables, ``&&``/``||``/``!``, ``REGEX``,
``CONTAINS`` / ``STRSTARTS`` / ``STRENDS`` — each accepting an
arbitrary expression as its first argument — ``BOUND``,
``isIRI``/``isLITERAL``/``isBLANK``, ``?v [NOT] IN (t1, t2, …)``
(numeric lists compare by value, others by term identity),
``LANG(?v) = "tag"`` — all compiled to codegen'd Column predicates),
``ORDER BY`` with ``ASC``/``DESC`` on variables, aggregate calls
(``ORDER BY DESC(COUNT(?x))`` — computed as hidden grouping outputs)
and scalar expressions (the BIND expression language), ``LIMIT`` /
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
(SERVICE).

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

#: decomposition regex for a rendered quoted-triple term (one level;
#: mirrors kgloom/exec/rdfsource._QT and kgloom/ops/star._UNQUOTE_RE)
_QT_RE = (r'^<<\s*(<[^>]*>|_:\S+)\s+(<[^>]*>)\s+'
          r'(<[^>]*>|_:\S+|"(?:[^"\\]|\\.)*"'
          r'(?:\^\^<[^>]*>|@[A-Za-z][A-Za-z0-9\-]*)?)\s*>>$')


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
    filters: list = field(default_factory=list)  # _parse_filter_expr trees
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
    """One aggregate projection ``(FUNC([DISTINCT] ?var | * | expr)
    AS ?alias)``."""
    func: str       # count | sum | avg | min | max | sample | group_concat
    var: Optional[str]              # None = COUNT(*) or expression input
    distinct: bool
    alias: str
    sep: Optional[str] = None       # GROUP_CONCAT separator (default " ")
    #: aggregate over a computed expression, e.g. ``SUM(?a * ?b)`` —
    #: a BIND-language Expr tree evaluated per solution before
    #: aggregation (mutually exclusive with ``var``)
    expr: Optional[tuple] = None


@dataclass
class SelectQuery:
    variables: list[str]            # output order: vars + agg aliases; [] = *
    distinct: bool
    group: GroupPattern             # the WHERE group
    #: (key, descending) — key is a variable name (str), an
    #: :class:`AggExpr` (``ORDER BY DESC(COUNT(?x))``), or a scalar
    #: expression tree (the BIND expression language)
    order_by: list[tuple[object, bool]]
    limit: Optional[int] = None
    offset: Optional[int] = None
    prefixes: dict[str, str] = field(default_factory=dict)
    aggregates: list[AggExpr] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    #: ``GROUP BY (expr AS ?v)`` items (§18.2.4.1): the expression is
    #: computed as a pre-aggregation extend and ``?v`` joins group_by
    group_exprs: list[tuple[Expr, str]] = field(default_factory=list)
    having: list[tuple[str, str, str]] = field(default_factory=list)
    #: hidden aggregates backing ``HAVING (AGG(...) op value)`` — the
    #: alias appears in `having` and the column drops after filtering
    having_aggs: list[AggExpr] = field(default_factory=list)
    #: scalar select expressions ``(expr AS ?alias)`` — §18.2.4.4
    #: Extend, applied after grouping (so they may reference aggregate
    #: aliases) and before ORDER BY (so sort keys may reference them)
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


_ESCAPES = {"\\": "\\\\", '"': '\\"', "\n": "\\n", "\r": "\\r", "\t": "\\t"}


def _render_literal(lex: str, lang: Optional[str], dtype: Optional[str]) -> str:
    for src, dst in _ESCAPES.items():
        lex = lex.replace(src, dst)
    out = f'"{lex}"'
    if lang:
        out += f"@{lang}"
    elif dtype:
        out += f"^^<{dtype}>"
    return out


_TOKEN = re.compile(r"""
    \s*(?:
      (?P<var>\?[A-Za-z_][A-Za-z0-9_]*)
    | (?P<qt><<|>>)
    | (?P<ann>\{\||\|\})
    | (?P<iri><[^>]*>)
    | (?P<lit>"(?:[^"\\]|\\.)*"(?:@[A-Za-z0-9-]+|\^\^<[^>]*>|\^\^[A-Za-z_][\w-]*:[\w-]+)?)
    | (?P<num>[+-]?[0-9]+(?:\.[0-9]+)?)
    | (?P<pname>[A-Za-z_][\w-]*:[\w.-]*)
    | (?P<a>\ba\b)
    | (?P<punct>[;,.{}()])
    | (?P<pathop>[/|^+*?!])
    )""", re.VERBOSE)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _tokenize(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        if text[pos:].strip() == "":
            break
        m = _TOKEN.match(text, pos)
        if m is None:
            raise SparqlError(f"cannot tokenize at: {text[pos:pos + 30]!r}")
        pos = m.end()
        for kind, val in m.groupdict().items():
            if val is not None:
                out.append((kind, val))
                break
    return out


def _resolve_term(kind: str, val: str, prefixes: dict[str, str]) -> Term:
    if kind == "var":
        return Var(val[1:])
    if kind == "iri":
        return val  # already <...>
    if kind == "a":
        return f"<{RDF_TYPE}>"
    if kind == "pname":
        p, _, local = val.partition(":")
        if p not in prefixes:
            raise SparqlError(f"undefined prefix {p!r}")
        return f"<{prefixes[p]}{local}>"
    if kind == "num":
        return _render_literal(val, None, None)
    if kind == "lit":
        m = re.match(r'^"((?:[^"\\]|\\.)*)"(?:@([A-Za-z0-9-]+)'
                     r'|\^\^<([^>]*)>|\^\^([A-Za-z_][\w-]*:[\w-]+))?$', val)
        lex = m.group(1).replace('\\"', '"').replace("\\\\", "\\") \
               .replace("\\n", "\n").replace("\\r", "\r").replace("\\t", "\t")
        dtype = m.group(3)
        if m.group(4):
            p, _, local = m.group(4).partition(":")
            if p not in prefixes:
                raise SparqlError(f"undefined prefix {p!r}")
            dtype = prefixes[p] + local
        return _render_literal(lex, m.group(2), dtype)
    raise SparqlError(f"unexpected term {val!r}")


def _values_terms(src: str, prefixes: dict[str, str]) -> list:
    """Constant terms of one VALUES row (or a whole single-var data
    block): rendered terms, with ``UNDEF`` → ``None`` (an unbound
    binding — joins as compatible-with-anything)."""
    out, pos, n = [], 0, len(src)
    while pos < n:
        if src[pos].isspace():
            pos += 1
            continue
        um = re.match(r"UNDEF\b", src[pos:], re.IGNORECASE)
        if um:
            out.append(None)
            pos += um.end()
            continue
        tm = _TOKEN.match(src, pos)
        if tm is None:
            raise SparqlError(
                f"cannot tokenize VALUES data at: {src[pos:pos + 30]!r}")
        pos = tm.end()
        for kind, val in tm.groupdict().items():
            if val is not None:
                t = _resolve_term(kind, val, prefixes)
                if isinstance(t, Var):
                    raise SparqlError("VALUES data must be constants")
                out.append(t)
                break
    return out


_UNSUPPORTED = re.compile(
    r"\b(SERVICE)\b", re.IGNORECASE)


class _DefaultGraphOnly:
    """graph_term sentinel: a dataset clause is active and this scope
    is the DEFAULT graph — match only rows whose graph was nulled by
    the dataset rewrite (FROM-merged triples), never named graphs."""


_DEFAULT_ONLY = _DefaultGraphOnly()


def _tok_at(toks: list, i: int):
    """Token at index ``i`` or a SparqlError (never an IndexError from
    a truncated pattern)."""
    if i >= len(toks):
        raise SparqlError("unexpected end of basic graph pattern")
    return toks[i]


def _parse_path_unary(toks: list, i: int, prefixes: dict[str, str]):
    """``^path``, ``(path)`` or an IRI atom, with ``+``/``*``/``?``
    postfix closure modifiers."""
    kind, val = _tok_at(toks, i)
    if (kind, val) == ("pathop", "^"):
        node, i = _parse_path_unary(toks, i + 1, prefixes)
        node = PathInv(node)
    elif (kind, val) == ("punct", "("):
        node, i = _parse_path_expr(toks, i + 1, prefixes)
        if _tok_at(toks, i) != ("punct", ")"):
            raise SparqlError("unbalanced parentheses in property path")
        i += 1
    elif (kind, val) == ("pathop", "!"):
        def nps_member(j: int):
            k2, v2 = _tok_at(toks, j)
            invd = False
            if (k2, v2) == ("pathop", "^"):
                invd = True
                j += 1
                k2, v2 = _tok_at(toks, j)
            term = _resolve_term(k2, v2, prefixes)
            if isinstance(term, Var) or not term.startswith("<"):
                raise SparqlError(
                    "negated property set members must be IRIs")
            return term, invd, j + 1

        fwd: list = []
        inv: list = []
        if _tok_at(toks, i + 1) == ("punct", "("):
            j = i + 2
            while True:
                term, invd, j = nps_member(j)
                (inv if invd else fwd).append(term)
                nxt = _tok_at(toks, j)
                if nxt == ("pathop", "|"):
                    j += 1
                    continue
                if nxt == ("punct", ")"):
                    j += 1
                    break
                raise SparqlError(
                    "expected '|' or ')' in negated property set")
            i = j
        else:
            term, invd, i = nps_member(i + 1)
            (inv if invd else fwd).append(term)
        node = PathNeg(tuple(fwd), tuple(inv))
    else:
        term = _resolve_term(kind, val, prefixes)
        i += 1
        if isinstance(term, Var):
            # a predicate variable is a plain pattern, never a path step
            if i < len(toks) and toks[i][0] == "pathop":
                raise SparqlError(
                    "variables cannot appear inside a property path")
            return term, i
        if not term.startswith("<"):
            raise SparqlError(
                f"property path atoms must be IRIs, got {term!r}")
        node = term
    while i < len(toks) and toks[i][0] == "pathop" and \
            toks[i][1] in "+*?":
        node = PathClosure(node, toks[i][1])
        i += 1
    return node, i


def _parse_path_seq(toks: list, i: int, prefixes: dict[str, str]):
    node, i = _parse_path_unary(toks, i, prefixes)
    steps = [node]
    while i < len(toks) and toks[i] == ("pathop", "/"):
        node, i = _parse_path_unary(toks, i + 1, prefixes)
        steps.append(node)
    if len(steps) == 1:
        return steps[0], i
    if any(isinstance(s, Var) for s in steps):
        raise SparqlError("variables cannot appear inside a property path")
    return PathSeq(tuple(steps)), i


def _parse_path_expr(toks: list, i: int, prefixes: dict[str, str]):
    """Full path grammar at the predicate position: ``|`` binds loosest,
    then ``/``, then unary ``^`` / postfix ``+ * ?``.  A path of one
    plain IRI atom collapses back to the rendered-string Term so
    non-path queries compile exactly as before."""
    node, i = _parse_path_seq(toks, i, prefixes)
    branches = [node]
    while i < len(toks) and toks[i] == ("pathop", "|"):
        node, i = _parse_path_seq(toks, i + 1, prefixes)
        branches.append(node)
    if len(branches) == 1:
        return branches[0], i
    if any(isinstance(b, Var) for b in branches):
        raise SparqlError("variables cannot appear inside a property path")
    return PathAlt(tuple(branches)), i


def _parse_node_term(toks, i: int, prefixes: dict[str, str]
                     ) -> tuple[Term, int]:
    """One subject/object term at ``toks[i]`` → (term, next index).
    Handles SPARQL-star quoted-triple patterns ``<< s p o >>`` (one
    level): a GROUND quoted triple collapses to its rendered string
    term immediately, so constants flow through every existing code
    path (INSERT DATA, equality filters); one with variables becomes a
    :class:`QuotedPattern`."""
    kind, val = _tok_at(toks, i)
    if kind == "qt" and val == "<<":
        s, i = _parse_node_term(toks, i + 1, prefixes)
        if isinstance(s, QuotedPattern) or (isinstance(s, str)
                                            and s.startswith("<<")):
            raise SparqlError("nested quoted triples are unsupported")
        pk, pv = _tok_at(toks, i + 1)
        pred = _resolve_term(pk, pv, prefixes)
        o, i = _parse_node_term(toks, i + 2, prefixes)
        if isinstance(o, QuotedPattern) or (isinstance(o, str)
                                            and o.startswith("<<")):
            raise SparqlError("nested quoted triples are unsupported")
        ck, cv = _tok_at(toks, i + 1)
        if (ck, cv) != ("qt", ">>"):
            raise SparqlError("quoted triple pattern missing '>>'")
        if not any(isinstance(t, Var) for t in (s, pred, o)):
            return f"<< {s} {pred} {o} >>", i + 1
        return QuotedPattern(s, pred, o), i + 1
    return _resolve_term(kind, val, prefixes), i


def _parse_triples(body: str, prefixes: dict[str, str]
                   ) -> list[tuple[Term, Term, Term]]:
    """Triple patterns with ``;`` predicate lists and ``,`` object
    lists out of a brace-free chunk of group text."""
    patterns: list[tuple[Term, Term, Term]] = []
    toks = _tokenize(body)
    i = 0
    while i < len(toks):
        kind, val = toks[i]
        if kind == "punct" and val == ".":
            i += 1
            continue
        subj, i = _parse_node_term(toks, i, prefixes)
        i += 1
        while True:  # predicate lists (';')
            pred, i = _parse_path_expr(toks, i, prefixes)
            while True:  # object lists (',')
                obj, i = _parse_node_term(toks, i, prefixes)
                patterns.append((subj, pred, obj))
                i += 1
                if i < len(toks) and toks[i] == ("ann", "{|"):
                    # SPARQL-star annotation syntax: the block's
                    # predicate-object list hangs off the QUOTED form
                    # of the triple just parsed (asserted + annotated)
                    if isinstance(pred, Path):
                        raise SparqlError(
                            "annotation on a property-path pattern")
                    if not any(isinstance(t, Var)
                               for t in (subj, pred, obj)):
                        qs: Term = f"<< {subj} {pred} {obj} >>"
                    else:
                        qs = QuotedPattern(subj, pred, obj)
                    i += 1
                    while True:
                        mpred, i = _parse_path_expr(toks, i, prefixes)
                        if isinstance(mpred, Path):
                            raise SparqlError(
                                "annotation predicate must be an IRI "
                                "or variable")
                        while True:
                            mobj, i = _parse_node_term(toks, i,
                                                       prefixes)
                            patterns.append((qs, mpred, mobj))
                            i += 1
                            if i < len(toks) and                                     toks[i] == ("punct", ","):
                                i += 1
                                continue
                            break
                        if i < len(toks) and toks[i] == ("punct", ";"):
                            i += 1
                            continue
                        break
                    if not (i < len(toks)
                            and toks[i] == ("ann", "|}")):
                        raise SparqlError(
                            "annotation block missing '|}'")
                    i += 1
                if i < len(toks) and toks[i] == ("punct", ","):
                    i += 1
                    continue
                break
            if i < len(toks) and toks[i] == ("punct", ";"):
                i += 1
                if i < len(toks) and toks[i] == ("punct", "."):
                    break  # trailing "; ."
                continue
            break
    return patterns


def _take_braced(text: str, i: int) -> tuple[str, int]:
    """Return (inner, next_index) for the balanced ``{...}`` starting
    at ``text[i]`` — quote-aware (braces inside string literals don't
    count)."""
    depth, j, in_str = 0, i, False
    while j < len(text):
        ch = text[j]
        if in_str:
            if ch == "\\":
                j += 2
                continue
            if ch == '"':
                in_str = False
        elif ch == '"':
            in_str = True
        elif ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
            if depth == 0:
                return text[i + 1:j], j + 1
        j += 1
    raise SparqlError("unbalanced braces in group pattern")


def _split_top_cmp(s: str):
    """Split ``lhs op rhs`` at the first comparison operator OUTSIDE
    parentheses (so ``COUNT(?x) > 5`` splits at ``>``); None if no
    top-level comparison exists."""
    depth = 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and ch in "=<>!":
            m = re.match(r"(!=|<=|>=|=|<|>)", s[i:])
            if m:
                return (s[:i].strip(), m.group(1),
                        s[i + len(m.group(1)):].strip())
    return None


def _parse_agg_atom(lhs: str, alias: str,
                    prefixes: dict[str, str]):
    """``FUNC([DISTINCT] * | ?v | expr)`` → an :class:`AggExpr` with
    the given alias; None if ``lhs`` is not a pure aggregate call."""
    am = re.match(r"^(COUNT|SUM|AVG|MIN|MAX|SAMPLE|GROUP_CONCAT)"
                  r"\s*\(", lhs, re.IGNORECASE)
    if am is None:
        return None
    arg, k = _take_parens(lhs, am.end() - 1)
    if lhs[k:].strip():
        return None
    func = am.group(1).lower()
    dm = re.match(r"^\s*DISTINCT\s+(.*)$", arg, re.IGNORECASE | re.DOTALL)
    body = (dm.group(1) if dm else arg).strip()
    if body == "*":
        if dm or func != "count":
            raise SparqlError(f"{func.upper()}(*) only valid as COUNT(*)")
        return AggExpr("count", None, False, alias)
    vm = re.match(r"^\?([A-Za-z_][A-Za-z0-9_]*)$", body)
    if vm:
        return AggExpr(func, vm.group(1), bool(dm), alias)
    return AggExpr(func, None, bool(dm), alias,
                   expr=_parse_expr(body, prefixes))


def _parse_filter(inner: str) -> tuple[str, str, str]:
    cm = re.match(r"^\?([A-Za-z_][A-Za-z0-9_]*)\s*"
                  r"(=|!=|<=|>=|<|>)\s*(.+)$", inner.strip())
    if cm is None:
        raise SparqlError(f"unsupported FILTER {inner.strip()!r}")
    return (cm.group(1), cm.group(2), cm.group(3).strip())


# --- FILTER boolean expressions --------------------------------------------
#
# bexpr  := bterm ('||' bterm)*
# bterm  := bfactor ('&&' bfactor)*
# bfactor:= '!' bfactor | '(' bexpr ')' | atom
# atom   := ?v op value                  (the original comparison form)
#         | REGEX(?v, "pat" [, "flags"]) | CONTAINS/STRSTARTS/STRENDS(?v, "s")
#         | BOUND(?v) | isIRI(?v) | isLITERAL(?v) | isBLANK(?v)
#         | LANG(?v) = "tag"             (empty tag = plain literal)
#
# Trees: ('or'|'and', [subs]) | ('not', sub) | ('cmp', var, op, raw)
#      | ('regex', var, pat, flags) | ('strfn', fn, var, lit)
#      | ('bound', var) | ('isa', kind, var) | ('lang', var, tag)

_STR_FNS = {"contains", "strstarts", "strends"}


def _split_top(text: str, sep: str) -> list[str]:
    """Split at top-level occurrences of a 2-char operator (paren- and
    quote-aware)."""
    parts, depth, in_str, start, i = [], 0, False, 0, 0
    while i < len(text):
        ch = text[i]
        if in_str:
            if ch == "\\":
                i += 2
                continue
            if ch == '"':
                in_str = False
        elif ch == '"':
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and text[i:i + 2] == sep:
            parts.append(text[start:i])
            start = i + 2
            i += 2
            continue
        i += 1
    parts.append(text[start:])
    return parts


def _parse_filter_expr(text: str, prefixes: dict[str, str]):
    text = text.strip()
    ors = _split_top(text, "||")
    if len(ors) > 1:
        return ("or", [_parse_filter_expr(p, prefixes) for p in ors])
    ands = _split_top(text, "&&")
    if len(ands) > 1:
        return ("and", [_parse_filter_expr(p, prefixes) for p in ands])
    if text.startswith("!") and not text.startswith("!="):
        return ("not", _parse_filter_expr(text[1:], prefixes))
    if text.startswith("("):
        inner, j = _take_parens(text, 0)
        if text[j:].strip():
            raise SparqlError(f"trailing text in FILTER: {text[j:]!r}")
        return _parse_filter_expr(inner, prefixes)
    fm = re.match(r"^([A-Za-z]+)\s*\(", text)
    if fm:
        fn = fm.group(1).lower()
        inner, j = _take_parens(text, fm.end() - 1)
        rest = text[j:].strip()
        if fn == "lang":
            m = re.match(r'^(!?=)\s*"([A-Za-z0-9-]*)"$', rest)
            vm = re.match(r"^\?([A-Za-z_]\w*)$", inner.strip())
            if m is None or vm is None:
                raise SparqlError(
                    f'LANG filter must be LANG(?v) = "tag": {text!r}')
            node = ("lang", vm.group(1), m.group(2))
            return node if m.group(1) == "=" else ("not", node)
        if rest:
            raise SparqlError(f"trailing text in FILTER: {rest!r}")
        args = [a.strip() for a in _split_args(inner)]
        if fn == "regex":
            if len(args) not in (2, 3):
                raise SparqlError(f"REGEX takes (expr, \"pat\"[, flags])")
            flags = _unrender(_resolve_term(
                *_tokenize(args[2])[0], prefixes)) if len(args) == 3 else ""
            pat = _unrender(_resolve_term(*_tokenize(args[1])[0], prefixes))
            if re.match(r"^\?[A-Za-z_]\w*$", args[0]):
                return ("regex", args[0][1:], pat, flags)
            # general first argument: any BIND expression
            return ("regex_expr", _parse_expr(args[0], prefixes), pat, flags)
        if fn in _STR_FNS:
            if len(args) != 2:
                raise SparqlError(f"{fn.upper()} takes (expr, \"literal\")")
            lit = _unrender(_resolve_term(*_tokenize(args[1])[0], prefixes))
            if re.match(r"^\?[A-Za-z_]\w*$", args[0]):
                return ("strfn", fn, args[0][1:], lit)
            return ("strfn_expr", fn, _parse_expr(args[0], prefixes), lit)
        if fn == "bound":
            vm = re.match(r"^\?([A-Za-z_]\w*)$", inner.strip())
            if vm is None:
                raise SparqlError("BOUND takes a single variable")
            return ("bound", vm.group(1))
        if fn in ("isiri", "isuri", "isliteral", "isblank",
                  "istriple"):
            vm = re.match(r"^\?([A-Za-z_]\w*)$", inner.strip())
            if vm is None:
                raise SparqlError(f"{fn} takes a single variable")
            kind = {"isiri": "iri", "isuri": "iri",
                    "isliteral": "literal", "isblank": "blank",
                    "istriple": "triple"}[fn]
            return ("isa", kind, vm.group(1))
        raise SparqlError(f"unsupported FILTER function {fn!r}")
    im = re.match(r"^\?([A-Za-z_]\w*)\s+(NOT\s+)?IN\s*\(", text,
                  re.IGNORECASE | re.DOTALL)
    if im:
        inner, j = _take_parens(text, im.end() - 1)
        if text[j:].strip():
            raise SparqlError(f"trailing text in FILTER: {text[j:]!r}")
        parts = [p.strip() for p in _split_args(inner)]
        if all(re.fullmatch(r"[+-]?[0-9]+(\.[0-9]+)?", p) for p in parts):
            # all-numeric list → value comparison, like _cmp_col
            node = ("in", im.group(1), [float(p) for p in parts], True)
            return ("not", node) if im.group(2) else node
        terms = []
        for part in parts:
            toks = _tokenize(part)
            if len(toks) != 1:
                raise SparqlError(f"bad IN list member {part!r}")
            t = _resolve_term(*toks[0], prefixes)
            if isinstance(t, Var):
                raise SparqlError("IN list members must be constants")
            terms.append(t)
        node = ("in", im.group(1), terms, False)
        return ("not", node) if im.group(2) else node
    return ("cmp",) + _parse_filter(text)


def _filter_col(node, result_cols: list[str],
                prefixes: dict[str, str]) -> F.Column:
    """Compile a FILTER tree to a boolean Column over the solution
    DataFrame (pure Catalyst — rlike/startswith/contains/regexp are all
    codegen'd)."""
    kind = node[0]
    if kind == "or":
        out = _filter_col(node[1][0], result_cols, prefixes)
        for sub in node[1][1:]:
            out = out | _filter_col(sub, result_cols, prefixes)
        return out
    if kind == "and":
        out = _filter_col(node[1][0], result_cols, prefixes)
        for sub in node[1][1:]:
            out = out & _filter_col(sub, result_cols, prefixes)
        return out
    if kind == "not":
        # SPARQL !E is true only where E evaluates false (an unbound
        # operand is an error, not true) — Column ~ has exactly the
        # three-valued behavior we want (~null = null = filtered out)
        return ~_filter_col(node[1], result_cols, prefixes)
    if kind in ("strfn_expr", "regex_expr"):
        expr = node[2] if kind == "strfn_expr" else node[1]
        if result_cols is not None:
            missing = _expr_vars(expr) - set(result_cols)
            if missing:
                raise SparqlError(
                    f"FILTER references unbound variable "
                    f"?{sorted(missing)[0]}")
        c, k = _expr_compile(expr)
        lex = _lexical(c) if k == "term" else c.cast("string")
        if kind == "regex_expr":
            pat = node[2] if not node[3] else f"(?{node[3]}){node[2]}"
            return lex.rlike(pat)
        fn, lit = node[1], node[3]
        if fn == "contains":
            return lex.contains(lit)
        if fn == "strstarts":
            return lex.startswith(lit)
        return lex.endswith(lit)
    var = node[2] if kind in ("strfn", "isa") else node[1]
    # result_cols=None → permissive (IF conditions inside BIND exprs,
    # where the BIND site has already checked variable boundness)
    if result_cols is not None and var not in result_cols:
        raise SparqlError(f"FILTER references unbound variable ?{var}")
    c = F.col(var)
    if kind == "cmp":
        _, v, op, raw = node
        return _cmp_col(v, op, raw, prefixes)
    if kind == "regex":
        pat = node[2] if not node[3] else f"(?{node[3]}){node[2]}"
        return _lexical(c).rlike(pat)
    if kind == "strfn":
        fn, lit = node[1], node[3]
        lex = _lexical(c)
        if fn == "contains":
            return lex.contains(lit)
        if fn == "strstarts":
            return lex.startswith(lit)
        return lex.endswith(lit)
    if kind == "in":
        # the expansion ?v = t1 || ?v = t2 || …: numeric lists compare
        # by value (like _cmp_col), others by rendered-term identity;
        # unbound ?v → null → dropped
        return (_numeric(c) if node[3] else c).isin(*node[2])
    if kind == "bound":
        return c.isNotNull()
    if kind == "isa":
        if node[1] == "iri":
            # a quoted triple also starts with "<" — exclude it
            return c.startswith("<") & ~c.rlike(_QT_RE)
        if node[1] == "literal":
            return c.startswith('"')
        if node[1] == "triple":  # SPARQL-star isTRIPLE
            return c.rlike(_QT_RE)
        return c.startswith("_:")
    if kind == "lang":
        tag = node[2]
        m = F.regexp_extract(c, r'@([A-Za-z0-9-]+)$', 1)
        return (c.startswith('"')) & (F.lower(m) == tag.lower())
    raise SparqlError(f"bad filter node {node!r}")  # pragma: no cover


def _take_parens(text: str, i: int) -> tuple[str, int]:
    """Return (inner, next_index) for the balanced ``(...)`` starting at
    ``text[i]`` — quote-aware, like :func:`_take_braced`."""
    depth, j, in_str = 0, i, False
    while j < len(text):
        ch = text[j]
        if in_str:
            if ch == "\\":
                j += 2
                continue
            if ch == '"':
                in_str = False
        elif ch == '"':
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return text[i + 1:j], j + 1
        j += 1
    raise SparqlError("unbalanced parentheses in expression")


# --- BIND expression subset ------------------------------------------------
#
# expr := atom (('+'|'-'|'*'|'/') atom)*        (left-associative)
# atom := FUNC '(' expr (',' expr)* ')' | '(' expr ')' | ?var | literal | num
# FUNC := CONCAT | STR | UCASE | LCASE | STRLEN | IRI | URI | REPLACE
#       | SUBSTR | STRBEFORE | STRAFTER | ENCODE_FOR_URI
#       | ABS | CEIL | FLOOR | ROUND
#       | MD5 | SHA1 | SHA256 | COALESCE | IF
#       | LANG | DATATYPE | STRLANG | STRDT
#
# IF's first argument is a *boolean* expression and is parsed with the
# FILTER-expression grammar (comparisons, REGEX/CONTAINS/..., BOUND,
# &&/||/!), carried as a ('cond', filter_tree) node.
#
# Exprs are tuples: ('var', name) | ('const', rendered_term)
#                 | ('call', func, [args]) | ('arith', op, left, right)
#                 | ('cond', filter_tree)              (IF conditions only)

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
    "istriple": 1,
}


def _split_args(inner: str) -> list[str]:
    """Top-level comma split of a function-argument list (paren- and
    quote-aware)."""
    args, depth, in_str, in_iri, start = [], 0, False, False, 0
    i = 0
    while i < len(inner):
        ch = inner[i]
        if in_str:
            if ch == "\\":
                i += 2
                continue
            if ch == '"':
                in_str = False
        elif in_iri:
            if ch == ">":
                in_iri = False
        elif ch == '"':
            in_str = True
        elif ch == "<":
            in_iri = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            args.append(inner[start:i])
            start = i + 1
        i += 1
    args.append(inner[start:])
    return args


def _parse_expr(text: str, prefixes: dict[str, str]) -> Expr:
    text = text.strip()
    # binary arithmetic at top level (paren/quote aware): split at the
    # rightmost lowest-precedence operator (+/- before */), which gives
    # left-associativity within a precedence level
    depth, in_str, in_iri, i = 0, False, False, 0
    addsub = muldiv = None
    while i < len(text):
        ch = text[i]
        if in_str:
            if ch == "\\":
                i += 2
                continue
            if ch == '"':
                in_str = False
        elif in_iri:
            if ch == ">":
                in_iri = False
        elif ch == '"':
            in_str = True
        elif ch == "<":
            in_iri = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch in "+-*/" and depth == 0:
            # not a unary sign: needs a left operand (previous
            # non-space char exists and is not itself an operator)
            prev = text[:i].rstrip()
            if prev and prev[-1] not in "+-*/":
                if ch in "+-":
                    addsub = i
                else:
                    muldiv = i
        i += 1
    split = addsub if addsub is not None else muldiv
    if split is not None:
        return ("arith", text[split],
                _parse_expr(text[:split], prefixes),
                _parse_expr(text[split + 1:], prefixes))
    fm = re.match(r"^([A-Za-z_][A-Za-z0-9_]*)\s*\(", text)
    if fm and fm.group(1).lower() in _EXPR_FUNCS:
        inner, j = _take_parens(text, fm.end() - 1)
        if text[j:].strip():
            raise SparqlError(f"trailing text after call: {text[j:]!r}")
        func = fm.group(1).lower()
        raw_args = _split_args(inner)
        if func == "if":
            # IF(cond, then, else): the condition is a boolean
            # expression in the FILTER grammar
            if len(raw_args) != 3:
                raise SparqlError("IF takes 3 arguments")
            # the cond node carries the prologue's prefixes: 'cmp'
            # leaves resolve their RHS term at compile time
            args = [("cond", _parse_filter_expr(raw_args[0], prefixes),
                     prefixes),
                    _parse_expr(raw_args[1], prefixes),
                    _parse_expr(raw_args[2], prefixes)]
            return ("call", "if", args)
        args = [_parse_expr(a, prefixes) for a in raw_args]
        arity = _EXPR_FUNCS[func]
        if isinstance(arity, int) and len(args) != arity:
            raise SparqlError(f"{func.upper()} takes {arity} argument(s)")
        if isinstance(arity, tuple) and not (
                arity[0] <= len(args) <= arity[1]):
            raise SparqlError(
                f"{func.upper()} takes {arity[0]}..{arity[1]} arguments")
        return ("call", "iri" if func == "uri" else func, args)
    if text.startswith("("):
        inner, j = _take_parens(text, 0)
        if text[j:].strip():
            raise SparqlError(f"trailing text after group: {text[j:]!r}")
        return _parse_expr(inner, prefixes)
    toks = _tokenize(text)
    if len(toks) != 1:
        raise SparqlError(f"unsupported expression {text!r}")
    term = _resolve_term(*toks[0], prefixes)
    return ("var", term.name) if isinstance(term, Var) else ("const", term)


def _at_keyword(text: str, i: int, kw: str) -> bool:
    """Case-insensitive keyword at position ``i``, on a token boundary
    (so a prefixed name like ``ex:OPTIONALthing`` never matches)."""
    if text[i:i + len(kw)].upper() != kw:
        return False
    if i > 0 and text[i - 1] not in " \t\r\n.;,{}()":
        return False
    end = i + len(kw)
    return end >= len(text) or not (text[end].isalnum() or text[end] in "_:")


def _parse_group(text: str, prefixes: dict[str, str]) -> GroupPattern:
    """Recursive group parser: plain triple text, FILTER(...) clauses,
    OPTIONAL { ... } sub-groups and { ... } UNION { ... } alternations
    (a lone braced sub-group is a 1-branch "union", i.e. an inline
    group join)."""
    g = GroupPattern()
    chunks: list[str] = []
    i, n, chunk_start, in_str = 0, len(text), 0, False
    while i < n:
        ch = text[i]
        if in_str:
            if ch == "\\":
                i += 2
                continue
            if ch == '"':
                in_str = False
            i += 1
            continue
        if ch == '"':
            in_str = True
            i += 1
            continue
        if ch == "{" and not (i + 1 < n and text[i + 1] == "|"):
            chunks.append(text[chunk_start:i])
            inner, j = _take_braced(text, i)
            if re.match(r"\s*SELECT\b", inner, re.IGNORECASE):
                # nested { SELECT ... } subquery (§18.2.2.14): parsed
                # as a full query with the enclosing prologue's
                # prefixes in scope, evaluated bottom-up at exec time
                if re.match(r"\s*UNION\b", text[j:], re.IGNORECASE):
                    raise SparqlError(
                        "a subquery cannot be a UNION branch")
                g.subqueries.append(parse_sparql(inner, prefixes))
                chunk_start = i = j
                continue
            branches = [_parse_group(inner, prefixes)]
            while True:
                m = re.match(r"\s*UNION\s*", text[j:], re.IGNORECASE)
                if m is None:
                    break
                k = j + m.end()
                if k >= n or text[k] != "{":
                    raise SparqlError("UNION must be followed by a group")
                inner2, j = _take_braced(text, k)
                if re.match(r"\s*SELECT\b", inner2, re.IGNORECASE):
                    raise SparqlError(
                        "a subquery cannot be a UNION branch")
                branches.append(_parse_group(inner2, prefixes))
            g.unions.append(branches)
            chunk_start = i = j
            continue
        if _at_keyword(text, i, "OPTIONAL"):
            chunks.append(text[chunk_start:i])
            m = re.match(r"OPTIONAL\s*", text[i:], re.IGNORECASE)
            k = i + m.end()
            if k >= n or text[k] != "{":
                raise SparqlError("OPTIONAL must be followed by a group")
            inner, j = _take_braced(text, k)
            g.optionals.append(_parse_group(inner, prefixes))
            chunk_start = i = j
            continue
        if _at_keyword(text, i, "GRAPH"):
            chunks.append(text[chunk_start:i])
            m = re.match(r"GRAPH\s+(\?[A-Za-z_][A-Za-z0-9_]*|<[^>]*>"
                         r"|[A-Za-z_][\w-]*:[\w.-]*)\s*", text[i:],
                         re.IGNORECASE)
            if m is None:
                raise SparqlError("GRAPH needs ?var or an IRI")
            gterm_src = m.group(1)
            if gterm_src.startswith("?"):
                gterm: Term = Var(gterm_src[1:])
            elif gterm_src.startswith("<"):
                gterm = gterm_src
            else:
                gterm = _resolve_term("pname", gterm_src, prefixes)
            k = i + m.end()
            if k >= n or text[k] != "{":
                raise SparqlError("GRAPH must be followed by a group")
            inner, j = _take_braced(text, k)
            g.graphs.append((gterm, _parse_group(inner, prefixes)))
            chunk_start = i = j
            continue
        if _at_keyword(text, i, "MINUS"):
            chunks.append(text[chunk_start:i])
            m = re.match(r"MINUS\s*", text[i:], re.IGNORECASE)
            k = i + m.end()
            if k >= n or text[k] != "{":
                raise SparqlError("MINUS must be followed by a group")
            inner, j = _take_braced(text, k)
            g.minuses.append(_parse_group(inner, prefixes))
            chunk_start = i = j
            continue
        if _at_keyword(text, i, "FILTER"):
            chunks.append(text[chunk_start:i])
            em = re.match(r"FILTER\s+(NOT\s+)?EXISTS\s*", text[i:],
                          re.IGNORECASE)
            if em is not None:
                k = i + em.end()
                if k >= n or text[k] != "{":
                    raise SparqlError(
                        "FILTER [NOT] EXISTS must be followed by a group")
                inner, j = _take_braced(text, k)
                g.exists.append((bool(em.group(1)),
                                 _parse_group(inner, prefixes)))
                chunk_start = i = j
                continue
            m = re.match(r"FILTER\s*", text[i:], re.IGNORECASE)
            k = i + m.end()
            if k >= n or text[k] != "(":
                raise SparqlError(
                    f"unsupported FILTER syntax at: {text[i:i + 40]!r}")
            inner, j = _take_parens(text, k)
            g.filters.append(_parse_filter_expr(inner, prefixes))
            chunk_start = i = j
            continue
        if _at_keyword(text, i, "BIND"):
            chunks.append(text[chunk_start:i])
            m = re.match(r"BIND\s*", text[i:], re.IGNORECASE)
            k = i + m.end()
            if k >= n or text[k] != "(":
                raise SparqlError("BIND must be followed by (expr AS ?var)")
            inner, j = _take_parens(text, k)
            am = re.search(r"\s+AS\s+\?([A-Za-z_][A-Za-z0-9_]*)\s*$",
                           inner, re.IGNORECASE)
            if am is None:
                raise SparqlError(f"BIND needs 'AS ?var': {inner.strip()!r}")
            g.binds.append((_parse_expr(inner[:am.start()], prefixes),
                            am.group(1)))
            chunk_start = i = j
            continue
        if _at_keyword(text, i, "VALUES"):
            chunks.append(text[chunk_start:i])
            m = re.match(r"VALUES\s*", text[i:], re.IGNORECASE)
            k = i + m.end()
            vm = re.match(r"(\?[A-Za-z_][A-Za-z0-9_]*|\((?:\s*\?[A-Za-z_]"
                          r"[A-Za-z0-9_]*)+\s*\))\s*", text[k:])
            if vm is None:
                raise SparqlError("VALUES needs ?var or (?v1 ?v2 ...)")
            vars_ = [v[1:] for v in re.findall(r"\?\w+", vm.group(1))]
            k += vm.end()
            if k >= n or text[k] != "{":
                raise SparqlError("VALUES needs a { data } block")
            inner, j = _take_braced(text, k)
            rows: list[list[str]] = []
            if len(vars_) == 1:
                rows = [[t] for t in _values_terms(inner, prefixes)]
            else:
                pos = 0
                while pos < len(inner):
                    if inner[pos].isspace():
                        pos += 1
                        continue
                    if inner[pos] != "(":
                        raise SparqlError(
                            f"VALUES rows must be parenthesized: "
                            f"{inner[pos:pos + 20]!r}")
                    row_src, pos = _take_parens(inner, pos)
                    row = _values_terms(row_src, prefixes)
                    if len(row) != len(vars_):
                        raise SparqlError(
                            f"VALUES row arity mismatch: "
                            f"{row_src.strip()!r}")
                    rows.append(row)
            if not rows:
                raise SparqlError("empty VALUES block")
            g.values.append((vars_, rows))
            chunk_start = i = j
            continue
        i += 1
    chunks.append(text[chunk_start:])
    for chunk in chunks:
        if chunk.strip():
            g.patterns.extend(_parse_triples(chunk, prefixes))
    return g


_AGG_PROJ = re.compile(
    r"\(\s*(COUNT|SUM|AVG|MIN|MAX|SAMPLE|GROUP_CONCAT)\s*\(\s*(DISTINCT\s+)?"
    r"(\*|\?[A-Za-z_][A-Za-z0-9_]*)\s*"
    r'(?:;\s*SEPARATOR\s*=\s*"([^"]*)"\s*)?\)\s+AS\s+'
    r"\?([A-Za-z_][A-Za-z0-9_]*)\s*\)", re.IGNORECASE)


def _parse_projection(proj_raw: str, prefixes: dict[str, str]
                      ) -> tuple[list[str], list[AggExpr],
                                 list[tuple[str, Expr]]]:
    """Ordered output names (plain vars + agg/expression aliases), the
    aggregate expressions, and the scalar select expressions
    (``(expr AS ?alias)``, SPARQL §18.2.4.4 Extend) out of the SELECT
    clause text."""
    names: list[str] = []
    aggs: list[AggExpr] = []
    sel_exprs: list[tuple[str, Expr]] = []
    i, s = 0, proj_raw
    while i < len(s):
        if s[i].isspace():
            i += 1
            continue
        if s[i] == "?":
            m = re.match(r"\?([A-Za-z_][A-Za-z0-9_]*)", s[i:])
            names.append(m.group(1))
            i += m.end()
            continue
        if s[i] == "(":
            m = _AGG_PROJ.match(s, i)
            if m is None:
                inner, j = _take_parens(s, i)
                em = re.match(r"^(.*\S)\s+AS\s+\?([A-Za-z_]\w*)$", inner,
                              re.IGNORECASE | re.DOTALL)
                if em is None:
                    raise SparqlError(
                        f"unsupported projection expression at "
                        f"{s[i:i + 40]!r}")
                alias, lhs = em.group(2), em.group(1).strip()
                # aggregate over a computed expression:
                # (FUNC([DISTINCT] expr) AS ?alias), e.g. SUM(?a * ?b)
                am = re.match(
                    r"^(COUNT|SUM|AVG|MIN|MAX|SAMPLE|GROUP_CONCAT)"
                    r"\s*\(", lhs, re.IGNORECASE)
                if am:
                    arg, k = _take_parens(lhs, am.end() - 1)
                    if lhs[k:].strip():
                        raise SparqlError(
                            f"trailing text after aggregate: {lhs[k:]!r}")
                    dm = re.match(r"^\s*DISTINCT\s+(.*)$", arg,
                                  re.IGNORECASE | re.DOTALL)
                    aggs.append(AggExpr(
                        am.group(1).lower(), None, bool(dm), alias,
                        expr=_parse_expr(dm.group(1) if dm else arg,
                                         prefixes)))
                else:
                    # scalar select expression: (expr AS ?alias)
                    sel_exprs.append((alias, _parse_expr(lhs, prefixes)))
                names.append(alias)
                i = j
                continue
            func = m.group(1).lower()
            distinct = bool(m.group(2))
            var = None if m.group(3) == "*" else m.group(3)[1:]
            if var is None and (distinct or func != "count"):
                raise SparqlError(f"{func.upper()}(*) only valid as COUNT(*)")
            sep = m.group(4)
            if sep is not None and func != "group_concat":
                raise SparqlError(
                    "SEPARATOR is only valid in GROUP_CONCAT")
            alias = m.group(5)
            aggs.append(AggExpr(func, var, distinct, alias, sep))
            names.append(alias)
            i = m.end()
            continue
        raise SparqlError(f"bad projection at {s[i:i + 20]!r}")
    return names, aggs, sel_exprs


def _strip_comments(text: str) -> str:
    """Drop ``# ...`` end-of-line comments — but a ``#`` inside a
    ``<...>`` IRI (fragment identifiers: ``ontology#label``) or a
    string literal is content, not a comment."""
    out, i, n = [], 0, len(text)
    in_str = in_iri = False
    while i < n:
        ch = text[i]
        if in_str:
            if ch == "\\" and i + 1 < n:
                out.append(text[i:i + 2])
                i += 2
                continue
            if ch == '"':
                in_str = False
        elif in_iri:
            if ch == ">":
                in_iri = False
        elif ch == '"':
            in_str = True
        elif ch == "<":
            in_iri = True
        elif ch == "#":
            while i < n and text[i] != "\n":
                i += 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


_ORD_AGG = re.compile(
    r"(COUNT|SUM|AVG|MIN|MAX|SAMPLE|GROUP_CONCAT)\s*\(", re.IGNORECASE)


def _parse_order_keys(src: str, prefixes: dict[str, str]
                      ) -> list[tuple[object, bool]]:
    """ORDER BY condition list: ``?var``, ``ASC(key)`` / ``DESC(key)``,
    aggregate calls (``DESC(COUNT(?x))``) and scalar expressions —
    parenthesized or function-call shaped — via the BIND expression
    parser."""
    keys: list[tuple[object, bool]] = []
    i, n = 0, len(src)
    while i < n:
        if src[i].isspace():
            i += 1
            continue
        m = re.match(r"(ASC|DESC)\s*\(", src[i:], re.IGNORECASE)
        if m:
            inner, j = _take_parens(src, i + m.end() - 1)
            sub = _parse_order_keys(inner, prefixes)
            if len(sub) != 1 or sub[0][1]:
                raise SparqlError(f"bad ORDER BY key {inner!r}")
            keys.append((sub[0][0], m.group(1).upper() == "DESC"))
            i = j
            continue
        if src[i] == "?":
            vm = re.match(r"\?([A-Za-z_][A-Za-z0-9_]*)", src[i:])
            if vm is None:
                raise SparqlError(f"bad ORDER BY variable at {src[i:i+20]!r}")
            keys.append((vm.group(1), False))
            i += vm.end()
            continue
        am = _ORD_AGG.match(src, i)
        if am:
            inner, j = _take_parens(src, am.end() - 1)
            inner = inner.strip()
            func = am.group(1).lower()
            distinct = False
            dm = re.match(r"DISTINCT\s+", inner, re.IGNORECASE)
            if dm:
                distinct, inner = True, inner[dm.end():].strip()
            if inner == "*":
                if func != "count" or distinct:
                    raise SparqlError(
                        f"{func.upper()}(*) only valid as COUNT(*)")
                var = None
            else:
                vm = re.fullmatch(r"\?([A-Za-z_][A-Za-z0-9_]*)", inner)
                if vm is None:
                    raise SparqlError(
                        f"unsupported aggregate ORDER BY arg {inner!r}")
                var = vm.group(1)
            keys.append((AggExpr(func, var, distinct, alias="__ord"),
                         False))
            i = j
            continue
        if src[i] == "(":
            inner, j = _take_parens(src, i)
            keys.append((_parse_expr(inner, prefixes), False))
            i = j
            continue
        fm = re.match(r"[A-Za-z_][A-Za-z0-9_]*\s*\(", src[i:])
        if fm:
            _, j = _take_parens(src, i + fm.end() - 1)
            keys.append((_parse_expr(src[i:j], prefixes), False))
            i = j
            continue
        raise SparqlError(f"unsupported ORDER BY key at {src[i:i+30]!r}")
    return keys


def parse_sparql(text: str,
                 outer_prefixes: Optional[dict[str, str]] = None
                 ) -> SelectQuery:
    text = _strip_comments(text)
    if _UNSUPPORTED.search(text):
        raise SparqlError(
            f"unsupported SPARQL feature: {_UNSUPPORTED.search(text).group(0)}")

    prefixes: dict[str, str] = dict(outer_prefixes or {})
    for m in re.finditer(r"PREFIX\s+([A-Za-z_][\w-]*)?:\s*<([^>]*)>", text,
                         re.IGNORECASE):
        prefixes[m.group(1) or ""] = m.group(2)
    text = re.sub(r"PREFIX\s+[\w-]*:\s*<[^>]*>", "", text, flags=re.IGNORECASE)

    # dataset clause (top-level only, §13.2) — pulled out before the
    # SELECT regex so FROM lines never reach the projection parser
    from_named = [f"<{g}>" for g in re.findall(
        r"\bFROM\s+NAMED\s+<([^>]*)>", text, re.IGNORECASE)]
    text = re.sub(r"\bFROM\s+NAMED\s+<[^>]*>", " ", text,
                  flags=re.IGNORECASE)
    from_graphs = [f"<{g}>" for g in re.findall(
        r"\bFROM\s+<([^>]*)>", text, re.IGNORECASE)]
    text = re.sub(r"\bFROM\s+<[^>]*>", " ", text, flags=re.IGNORECASE)

    m = re.search(r"SELECT\s+(DISTINCT\s+)?(.*?)\s*WHERE\s*\{(.*)\}(.*)$",
                  text, re.IGNORECASE | re.DOTALL)
    if m is None:
        raise SparqlError("only SELECT ... WHERE { ... } queries supported")
    distinct = bool(m.group(1))
    proj_raw, body, tail = m.group(2), m.group(3), m.group(4)

    if proj_raw.strip() == "*":
        variables, aggregates, select_exprs = [], [], []
    else:
        variables, aggregates, select_exprs = _parse_projection(
            proj_raw, prefixes)
        if not variables:
            raise SparqlError(f"bad projection {proj_raw!r}")

    group = _parse_group(body, prefixes)

    group_by: list[str] = []
    group_exprs: list[tuple[Expr, str]] = []
    gm = re.search(r"GROUP\s+BY\s+", tail, re.IGNORECASE)
    if gm:
        rest = tail[gm.end():]
        endm = re.search(r"\b(HAVING|ORDER|LIMIT|OFFSET)\b", rest,
                         re.IGNORECASE)
        clause = rest[:endm.start()] if endm else rest
        pos = 0
        while pos < len(clause):
            if clause[pos].isspace():
                pos += 1
                continue
            if clause[pos] == "(":
                inner, pos = _take_parens(clause, pos)
                am = re.search(r"\s+AS\s+\?([A-Za-z_][A-Za-z0-9_]*)\s*$",
                               inner, re.IGNORECASE)
                if am is None:
                    raise SparqlError(
                        "GROUP BY expression needs (expr AS ?var): "
                        f"{inner.strip()!r}")
                group_exprs.append(
                    (_parse_expr(inner[:am.start()], prefixes),
                     am.group(1)))
                group_by.append(am.group(1))
            else:
                vm = re.match(r"\?([A-Za-z_][A-Za-z0-9_]*)",
                              clause[pos:])
                if vm is None:
                    raise SparqlError(
                        f"bad GROUP BY item: {clause[pos:pos + 20]!r}")
                group_by.append(vm.group(1))
                pos += vm.end()
    # aggregates with no GROUP BY = one implicit group (valid SPARQL)
    if (aggregates or group_by):
        aliases = {a.alias for a in aggregates} | \
            {alias for alias, _ in select_exprs}
        bad = [v for v in variables if v not in aliases and v not in group_by]
        if bad:
            raise SparqlError(
                f"projected variables {bad} are neither aggregated nor "
                f"GROUP BY keys")
        if not variables:
            raise SparqlError("SELECT * cannot be combined with GROUP BY")

    having: list[tuple[str, str, str]] = []
    having_aggs: list[AggExpr] = []
    for hm in re.finditer(r"HAVING\s*\(", tail, re.IGNORECASE):
        inner, _ = _take_parens(tail, hm.end() - 1)
        s2 = inner.strip()
        cm = re.match(r"^\?([A-Za-z_][A-Za-z0-9_]*)\s*"
                      r"(=|!=|<=|>=|<|>)\s*(.+)$", s2)
        if cm:
            having.append((cm.group(1), cm.group(2), cm.group(3).strip()))
            continue
        # HAVING (AGG(...) op value): compile the aggregate as a
        # hidden grouping output (the ORDER BY DESC(COUNT(?x))
        # machinery) and filter on its alias
        split = _split_top_cmp(s2)
        if split is None:
            raise SparqlError(f"unsupported HAVING {s2!r}")
        lhs, op, rhs = split
        alias = f"__hv{len(having_aggs)}"
        agg = _parse_agg_atom(lhs, alias, prefixes)
        if agg is None:
            raise SparqlError(f"unsupported HAVING {s2!r}")
        having_aggs.append(agg)
        having.append((alias, op, rhs))
    if having and not (aggregates or group_by or having_aggs):
        raise SparqlError("HAVING requires GROUP BY or an aggregate")

    order_by = []
    om = re.search(r"ORDER\s+BY\s+(.*?)(?:\b(?:LIMIT|OFFSET)\b|$)", tail,
                   re.IGNORECASE | re.DOTALL)
    if om:
        order_by = _parse_order_keys(om.group(1), prefixes)
    lm = re.search(r"LIMIT\s+(\d+)", tail, re.IGNORECASE)
    limit = int(lm.group(1)) if lm else None
    ofm = re.search(r"OFFSET\s+(\d+)", tail, re.IGNORECASE)
    offset = int(ofm.group(1)) if ofm else None

    if group.is_empty():
        raise SparqlError("empty basic graph pattern")
    return SelectQuery(variables=variables, distinct=distinct,
                       group=group, order_by=order_by, limit=limit,
                       offset=offset, prefixes=prefixes,
                       aggregates=aggregates,
                       group_by=group_by, group_exprs=group_exprs,
                       having=having, having_aggs=having_aggs,
                       select_exprs=select_exprs,
                       from_graphs=from_graphs, from_named=from_named)


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


#: per-component edge budget for the in-partition closure path: a
#: component at the cap emits at most ~edge_cap² ≈ 1M pairs from one
#:  task (a few tens of MB of Arrow batch), safely inside executor
#: memory.  Components above it take the distributed doubling path.
CLOSURE_LOCAL_MAX_EDGES = 1_000


def _transitive_closure(edges: DataFrame) -> DataFrame:
    """Distinct transitive closure of an ``(__ps, __po)`` relation,
    sized per connected component — delegates to the engine-wide
    dispatcher :func:`kgloom.ops.closure.transitive_closure` (local
    in-task BFS for components ≤ :data:`CLOSURE_LOCAL_MAX_EDGES`
    edges, distributed doubling for giants).  The gate is read at call
    time so tests (and callers) can tune this module's knob."""
    from kgloom.ops.closure import transitive_closure

    return transitive_closure(edges.select("__ps", "__po"),
                              local_max_edges=CLOSURE_LOCAL_MAX_EDGES)


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
            return _transitive_closure(inner)
        zero = _graph_nodes(quads).select(
            F.col("__node").alias("__ps"), F.col("__node").alias("__po"))
        if path.mod == "?":
            return inner.distinct().unionByName(zero).distinct()
        return _transitive_closure(inner).unionByName(zero).distinct()
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
        from kgloom.ops.closure import anchored_closure

        inner = _path_pairs(quads, path.inner)
        if not isinstance(s, Var):
            df = anchored_closure(inner, [s], forward=True)
            ground = s
        else:
            df = anchored_closure(inner, [o], forward=False)
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
                df = df.where(F.col(pos).rlike(_QT_RE))
                for idx, sub in enumerate((term.s, term.p, term.o), 1):
                    _bind(sub, F.regexp_extract(F.col(pos), _QT_RE, idx))
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


def _cmp_col(var: str, op: str, raw: str,
             prefixes: dict[str, str]) -> F.Column:
    c = F.col(var)
    if re.fullmatch(r"[+-]?[0-9]+(\.[0-9]+)?", raw):
        lhs, rhs = _numeric(c), F.lit(float(raw))
    else:
        toks = _tokenize(raw)
        if len(toks) != 1:
            raise SparqlError(f"unsupported FILTER value {raw!r}")
        term = _resolve_term(*toks[0], prefixes)
        lhs = c
        rhs = F.col(term.name) if isinstance(term, Var) else F.lit(term)
    return {"=": lhs == rhs, "!=": lhs != rhs, "<": lhs < rhs,
            "<=": lhs <= rhs, ">": lhs > rhs, ">=": lhs >= rhs}[op]


def _apply_filter(result: DataFrame, var: str, op: str, raw: str,
                  prefixes: dict[str, str]) -> DataFrame:
    if var not in result.columns:
        raise SparqlError(f"FILTER references unbound variable ?{var}")
    return result.where(_cmp_col(var, op, raw, prefixes))


def _filter_tree_vars(node) -> set[str]:
    """Variables referenced by a FILTER-expression tree (used to check
    IF conditions at BIND sites the same way plain exprs are checked)."""
    kind = node[0]
    if kind in ("or", "and"):
        return set().union(*[_filter_tree_vars(s) for s in node[1]])
    if kind == "not":
        return _filter_tree_vars(node[1])
    if kind == "strfn_expr":
        return _expr_vars(node[2])
    if kind == "regex_expr":
        return _expr_vars(node[1])
    if kind in ("strfn", "isa"):
        return {node[2]}
    out = {node[1]}
    if kind == "cmp":
        m = re.match(r"^\?([A-Za-z_]\w*)$", node[3].strip())
        if m:
            out.add(m.group(1))
    return out


def _expr_vars(e: Expr) -> set[str]:
    if e[0] == "var":
        return {e[1]}
    if e[0] == "cond":
        return _filter_tree_vars(e[1])
    if e[0] == "call":
        return set().union(*[_expr_vars(a) for a in e[2]]) if e[2] else set()
    if e[0] == "arith":
        return _expr_vars(e[2]) | _expr_vars(e[3])
    return set()


def _unrender(term: str) -> str:
    """Python-side inverse of :func:`_render_literal` for a constant
    literal (used where an expression argument must be a plain string,
    e.g. REPLACE patterns)."""
    m = re.match(r'^"((?:[^"\\]|\\.)*)"', term)
    if m is None:
        raise SparqlError(f"expected a string literal, got {term!r}")
    return (m.group(1).replace('\\"', '"').replace("\\n", "\n")
            .replace("\\r", "\r").replace("\\t", "\t")
            .replace("\\\\", "\\"))


def _escape_lit(col: F.Column) -> F.Column:
    """Rendered-literal escaping of a plain string column (the Column
    mirror of :func:`_render_literal`)."""
    for src, dst in _ESCAPES.items():
        col = F.replace(col, F.lit(src), F.lit(dst))
    return col


def _expr_compile(e: Expr) -> tuple[F.Column, str]:
    """Compile a BIND expression to ``(column, kind)`` with kind one of
    ``term`` (rendered RDF term), ``str`` (plain string), ``num``
    (double), ``iri`` (plain IRI string)."""
    def lex(arg: Expr) -> F.Column:
        c, k = _expr_compile(arg)
        if k == "term":
            return _lexical(c)
        if k == "num":
            return c.cast("string")
        return c

    def num(arg: Expr) -> F.Column:
        c, k = _expr_compile(arg)
        if k == "num":
            return c
        return _numeric(c) if k == "term" else c.try_cast("double")

    if e[0] == "var":
        return F.col(e[1]), "term"
    if e[0] == "const":
        return F.lit(e[1]), "term"
    if e[0] == "arith":
        op, l, r = e[1], num(e[2]), num(e[3])
        col = {"+": l + r, "-": l - r, "*": l * r, "/": l / r}[op]
        return col, "num"
    func, args = e[1], e[2]
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
        # args[0] is ('cond', filter_tree, prefixes) from the parser;
        # result_cols=None → boundness was checked at the BIND site
        cond = _filter_col(args[0][1], None, args[0][2])
        return (F.when(cond, _expr_term(args[1]))
                .otherwise(_expr_term(args[2]))), "term"
    if func == "lang":
        t = _expr_term(args[0])
        # LANG of a non-literal is a type error → unbound (null); a
        # literal without a tag yields "" (SPARQL 1.1 §17.4.2.6)
        return (F.when(t.startswith('"'),
                       F.regexp_extract(t, r'@([A-Za-z0-9-]+)$', 1))
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
        return F.nullif(F.regexp_extract(t, _QT_RE, idx),
                        F.lit("")), "term"
    if func == "istriple":
        t = _expr_term(args[0])
        return (F.when(t.isNull(), F.lit(None).cast("string"))
                .when(t.rlike(_QT_RE), F.lit("true"))
                .otherwise(F.lit("false"))), "str"
    raise SparqlError(f"unsupported function {func!r}")  # pragma: no cover


def _expr_term(e: Expr) -> F.Column:
    """A BIND expression as a *rendered term* column (what the solution
    DataFrame carries)."""
    col, kind = _expr_compile(e)
    if kind == "term":
        return col
    if kind == "iri":
        return F.concat(F.lit("<"), col, F.lit(">"))
    if kind == "num":
        col = col.cast("string")
    else:
        col = _escape_lit(col)
    return F.when(col.isNull(), F.lit(None).cast("string")) \
            .otherwise(F.concat(F.lit('"'), col, F.lit('"')))


def _exec_group(quads: DataFrame, g: GroupPattern,
                prefixes: dict[str, str],
                graph_term: Optional[Term] = None) -> DataFrame:
    """Execute one group: BGP join, then inline/UNION groups, then
    GRAPH groups, then OPTIONAL left joins, then MINUS anti joins, then
    the group's FILTERs (so a filter can see optionally-bound
    variables), then FILTER [NOT] EXISTS semi/anti joins (which see
    everything).  ``graph_term`` is the active graph (a GRAPH scope
    propagates to every nested group, per SPARQL §13.3)."""
    result = _exec_bgp(quads, g.patterns, graph_term)
    for branches in g.unions:
        dfs = [_exec_group(quads, b, prefixes, graph_term)
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
        gdf = _exec_group(quads, sub, prefixes, gterm)
        result = gdf if result is None else _join_shared(result, gdf)
    for opt in g.optionals:
        if result is None:
            raise SparqlError(
                "OPTIONAL requires a preceding pattern in its group")
        odf = _exec_group(quads, opt, prefixes, graph_term)
        shared = [c for c in result.columns if c in odf.columns]
        if not shared:
            raise SparqlError(
                "OPTIONAL with no shared variables is unsupported")
        result = result.join(odf, on=shared, how="left")
    for mg in g.minuses:
        if result is None:
            raise SparqlError(
                "MINUS requires a preceding pattern in its group")
        sub = _exec_group(quads, mg, prefixes, graph_term)
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
        missing = [v for v in sorted(_expr_vars(expr))
                   if v not in result.columns]
        if missing:
            raise SparqlError(f"BIND references unbound variables {missing}")
        result = result.withColumn(name, _expr_term(expr))
    for node in g.filters:
        result = result.where(_filter_col(node, result.columns, prefixes))
    for negated, eg in g.exists:
        sub = _exec_group(quads, eg, prefixes, graph_term)
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
    text = _strip_comments(query)
    if _UNSUPPORTED.search(text):
        raise SparqlError(
            f"unsupported SPARQL feature: {_UNSUPPORTED.search(text).group(0)}")
    prefixes: dict[str, str] = {}
    for m in re.finditer(r"PREFIX\s+([A-Za-z_][\w-]*)?:\s*<([^>]*)>", text,
                         re.IGNORECASE):
        prefixes[m.group(1) or ""] = m.group(2)
    text = re.sub(r"PREFIX\s+[\w-]*:\s*<[^>]*>", "", text, flags=re.IGNORECASE)
    m = re.search(r"ASK\s*(?:WHERE\s*)?\{(.*)\}\s*$", text,
                  re.IGNORECASE | re.DOTALL)
    if m is None:
        raise SparqlError("not an ASK query")
    group = _parse_group(m.group(1), prefixes)
    if group.is_empty():
        raise SparqlError("empty basic graph pattern")
    return _exec_group(quads, group, prefixes).limit(1).count() > 0


def _agg_expr(a: AggExpr) -> F.Column:
    # the aggregation input: a bound variable's rendered term, or a
    # computed expression rendered to a term (so every branch below
    # sees the same rendered-term shape either way)
    src = _expr_term(a.expr) if a.expr is not None else (
        F.col(a.var) if a.var is not None else None)
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
    return e.alias(a.alias)


def _exec_select(quads: DataFrame, q: SelectQuery,
                 raw_terms: bool = False,
                 graph_term: Optional[Term] = None) -> DataFrame:
    """Run a parsed SELECT to a solution DataFrame (also the subquery
    evaluator — ``raw_terms=True`` keeps rendered terms so the result
    joins enclosing patterns; ``graph_term`` propagates an active
    GRAPH scope into the subquery's group, §13.3)."""
    from dataclasses import replace as _dc_replace

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

    result = _exec_group(quads, q.group, q.prefixes, graph_term)

    # normalize ORDER BY keys: variables sort in place; aggregate keys
    # become hidden aggregate outputs; scalar expressions become
    # hidden computed columns — hidden columns ride along until after
    # the sort, then drop (a project below a sort preserves ordering)
    norm_order: list[tuple[str, bool, object]] = []
    agg_order: list[AggExpr] = []
    hidden: list[str] = []
    for idx, (key, desc) in enumerate(q.order_by):
        if isinstance(key, str):
            norm_order.append((key, desc, None))
        elif isinstance(key, AggExpr):
            h = _dc_replace(key, alias=f"__ord{idx}")
            agg_order.append(h)
            hidden.append(h.alias)
            norm_order.append((h.alias, desc, None))
        else:
            name = f"__ord{idx}"
            hidden.append(name)
            norm_order.append((name, desc, key))
    if agg_order and not (q.aggregates or q.group_by):
        raise SparqlError(
            "aggregate ORDER BY keys require GROUP BY or an "
            "aggregated projection")

    agg_outputs: set[str] = set()
    if q.aggregates or q.group_by or q.having_aggs:
        # GROUP BY (expr AS ?v): extend BEFORE grouping (§18.2.4.1)
        for gexpr, gname in q.group_exprs:
            if gname in result.columns:
                raise SparqlError(
                    f"GROUP BY alias ?{gname} is already bound")
            gmissing = [v for v in sorted(_expr_vars(gexpr))
                        if v not in result.columns]
            if gmissing:
                raise SparqlError(
                    f"GROUP BY expression references unbound "
                    f"variables {gmissing}")
            result = result.withColumn(gname, _expr_term(gexpr))
        all_aggs = [*q.aggregates, *agg_order, *q.having_aggs]
        hidden.extend(a.alias for a in q.having_aggs)
        agg_vars = []
        for a in all_aggs:
            if a.expr is not None:
                agg_vars += sorted(_expr_vars(a.expr))
            elif a.var is not None:
                agg_vars.append(a.var)
        missing = [v for v in q.group_by if v not in result.columns] + \
            [v for v in agg_vars if v not in result.columns]
        if missing:
            raise SparqlError(
                f"aggregation references unbound variables {missing}")
        exprs = [_agg_expr(a) for a in all_aggs]
        # grouping keys are the *rendered* terms (SPARQL groups by RDF
        # term identity); the keys are lexical-stripped on output below
        if not exprs:
            # GROUP BY with no aggregate projection = the distinct keys
            result = result.select(*q.group_by).distinct()
        else:
            result = (result.groupBy(*q.group_by).agg(*exprs)
                      if q.group_by else result.agg(*exprs))
        agg_outputs = {a.alias for a in q.aggregates}
        for var, op, raw in q.having:
            result = _apply_filter(result, var, op, raw, q.prefixes)

    # scalar select expressions (§18.2.4.4 Extend): after grouping so
    # they can reference aggregate aliases, before ORDER BY so sort
    # keys can reference them
    for alias, expr in q.select_exprs:
        if alias in result.columns:
            raise SparqlError(f"select expression rebinds ?{alias}")
        missing = [v for v in sorted(_expr_vars(expr))
                   if v not in result.columns]
        if missing:
            raise SparqlError(
                f"select expression references unbound variables {missing}")
        result = result.withColumn(alias, _expr_term(expr))

    for name, _, expr in norm_order:
        if expr is None:
            continue
        missing = [v for v in sorted(_expr_vars(expr))
                   if v not in result.columns]
        if missing:
            raise SparqlError(
                f"ORDER BY references unbound variables {missing}")
        result = result.withColumn(name, _expr_term(expr))

    out_vars = q.variables or [c for c in result.columns
                               if c != "__one" and c not in hidden]
    missing = [v for v in out_vars if v not in result.columns] + \
        [name for name, _, expr in norm_order
         if expr is None and name not in result.columns
         and name not in hidden]
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
    if norm_order:
        # numeric-aware ordering: each key sorts by (numeric cast,
        # lexical form) so numeric bindings order numerically ('2' <
        # '10') while non-numeric bindings (null numeric key) keep a
        # deterministic lexical order among themselves
        keys = []
        for name, d, _ in norm_order:
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

# string literals, IRIs and comments: text a keyword scan must skip
_OPAQUE = re.compile(r'"(?:[^"\\\n]|\\.)*"|\'(?:[^\'\\\n]|\\.)*\''
                     r'|<[^<>"{}|^`\\\s]*>|#[^\n]*')


def _parse_construct(text: str):
    text = _strip_comments(text)
    if _UNSUPPORTED.search(text):
        raise SparqlError(
            f"unsupported SPARQL feature: {_UNSUPPORTED.search(text).group(0)}")
    prefixes: dict[str, str] = {}
    for m in re.finditer(r"PREFIX\s+([A-Za-z_][\w-]*)?:\s*<([^>]*)>", text,
                         re.IGNORECASE):
        prefixes[m.group(1) or ""] = m.group(2)
    text = re.sub(r"PREFIX\s+[\w-]*:\s*<[^>]*>", "", text, flags=re.IGNORECASE)

    m = re.search(r"CONSTRUCT\s*", text, re.IGNORECASE)
    if m is None:
        raise SparqlError("not a CONSTRUCT query")
    i = m.end()
    sm = re.match(r"WHERE\s*", text[i:], re.IGNORECASE)
    if sm is not None:
        # §10.2.3 CONSTRUCT WHERE shorthand: the WHERE pattern IS the
        # template — legal only for a plain BGP
        k = i + sm.end()
        if k >= len(text) or text[k] != "{":
            raise SparqlError("WHERE must be followed by a { group }")
        body, l = _take_braced(text, k)
        if re.search(r"\b(FILTER|OPTIONAL|UNION|GRAPH|BIND|VALUES|"
                     r"MINUS|SELECT|SERVICE)\b|\{", _OPAQUE.sub(" ", body),
                     re.IGNORECASE):
            raise SparqlError(
                "CONSTRUCT WHERE shorthand allows only a basic graph "
                "pattern (SPARQL 1.1 §10.2.3)")
        template_src, tail = body, text[l:]
    else:
        if i >= len(text) or text[i] != "{":
            raise SparqlError("CONSTRUCT must be followed by a { template }")
        template_src, j = _take_braced(text, i)
        wm = re.match(r"\s*WHERE\s*", text[j:], re.IGNORECASE)
        if wm is None:
            raise SparqlError("CONSTRUCT template must be followed by WHERE")
        k = j + wm.end()
        if k >= len(text) or text[k] != "{":
            raise SparqlError("WHERE must be followed by a { group }")
        body, l = _take_braced(text, k)
        tail = text[l:]

    template = _parse_triples(template_src, prefixes)
    if not template:
        raise SparqlError("empty CONSTRUCT template")
    for (s, p, _o) in template:
        if isinstance(s, str) and s.startswith('"'):
            raise SparqlError("CONSTRUCT template subject cannot be a literal")
        if isinstance(p, Path):
            raise SparqlError(
                "property paths are not allowed in a CONSTRUCT template")
        if isinstance(p, QuotedPattern):
            raise SparqlError("CONSTRUCT template predicate must be an IRI")
        if not isinstance(p, Var) and not p.startswith("<"):
            raise SparqlError("CONSTRUCT template predicate must be an IRI")
    group = _parse_group(body, prefixes)
    if group.is_empty():
        raise SparqlError("empty basic graph pattern")
    lm = re.search(r"LIMIT\s+(\d+)", tail, re.IGNORECASE)
    return template, group, prefixes, (int(lm.group(1)) if lm else None)


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
    template, group, prefixes, limit = _parse_construct(query)
    sol = _exec_group(quads, group, prefixes)
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
    text = _strip_comments(query)
    if _UNSUPPORTED.search(text):
        raise SparqlError(
            f"unsupported SPARQL feature: {_UNSUPPORTED.search(text).group(0)}")
    prefixes: dict[str, str] = {}
    for m in re.finditer(r"PREFIX\s+([A-Za-z_][\w-]*)?:\s*<([^>]*)>", text,
                         re.IGNORECASE):
        prefixes[m.group(1) or ""] = m.group(2)
    text = re.sub(r"PREFIX\s+[\w-]*:\s*<[^>]*>", "", text,
                  flags=re.IGNORECASE)
    m = re.search(r"DESCRIBE\s+(.*?)(?:\bWHERE\b\s*\{(.*)\})?\s*$", text,
                  re.IGNORECASE | re.DOTALL)
    if m is None or not m.group(1).strip():
        raise SparqlError("not a DESCRIBE query")
    spark = quads.sparkSession
    consts: list[str] = []
    described_vars: list[str] = []
    for kind, val in _tokenize(m.group(1)):
        term = _resolve_term(kind, val, prefixes)
        if isinstance(term, Var):
            described_vars.append(term.name)
        elif term.startswith("<"):
            consts.append(term)
        else:
            raise SparqlError(
                f"DESCRIBE takes IRIs or variables, got {term!r}")
    resources = spark.createDataFrame(
        [(c,) for c in consts], "__r string")
    if described_vars:
        if m.group(2) is None:
            raise SparqlError("DESCRIBE with variables requires WHERE")
        group = _parse_group(m.group(2), prefixes)
        if group.is_empty():
            raise SparqlError("empty basic graph pattern")
        sol = _exec_group(quads, group, prefixes)
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

def _split_top_semis(text: str) -> list[str]:
    """Split an update script at top-level ``;`` (outside braces,
    quotes, and IRIs) into individual operations."""
    parts, depth, in_str, in_iri, start = [], 0, False, False, 0
    for i, ch in enumerate(text):
        if in_str:
            if ch == '"':
                in_str = False
        elif in_iri:
            if ch == ">":
                in_iri = False
        elif ch == '"':
            in_str = True
        elif ch == "<":
            in_iri = True
        elif ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
        elif ch == ";" and depth == 0:
            parts.append(text[start:i])
            start = i + 1
    parts.append(text[start:])
    return parts


_GRAPH_HEAD = re.compile(
    r"GRAPH\s+(\?[A-Za-z_][A-Za-z0-9_]*|<[^>]*>|[A-Za-z_][\w-]*:[\w.-]*)\s*",
    re.IGNORECASE)


def _update_template(src: str, prefixes: dict[str, str], what: str,
                     ground: bool = False, default_graph=None):
    """Parse and validate a DELETE/INSERT quad template (or DATA block
    when ``ground``): plain triples plus ``GRAPH <iri>|?var { ... }``
    blocks, returned as (s, p, o, g) 4-tuples where g is ``None``
    (triples outside any GRAPH block, scoped to ``default_graph`` —
    the ``WITH`` graph — when one is set), an IRI, or a :class:`Var`.
    Literal subjects and non-IRI predicates are rejected (like
    CONSTRUCT templates), paths never, variables only when not
    ``ground``."""
    quads: list[tuple] = []
    i, n, chunk_start, in_str = 0, len(src), 0, False
    while i < n:
        ch = src[i]
        if in_str:
            if ch == "\\":
                i += 2
                continue
            if ch == '"':
                in_str = False
            i += 1
            continue
        if ch == '"':
            in_str = True
        elif _at_keyword(src, i, "GRAPH"):
            chunk = src[chunk_start:i]
            quads.extend((*t, default_graph)
                         for t in _parse_triples(chunk, prefixes))
            m = _GRAPH_HEAD.match(src, i)
            if m is None:
                raise SparqlError(f"GRAPH needs ?var or an IRI in {what}")
            gsrc = m.group(1)
            if gsrc.startswith("?"):
                gterm: Term = Var(gsrc[1:])
            elif gsrc.startswith("<"):
                gterm = gsrc
            else:
                gterm = _resolve_term("pname", gsrc, prefixes)
            if m.end() >= n or src[m.end()] != "{":
                raise SparqlError(
                    f"GRAPH must be followed by a group in {what}")
            inner, j = _take_braced(src, m.end())
            quads.extend((*t, gterm)
                         for t in _parse_triples(inner, prefixes))
            chunk_start = i = j
            continue
        i += 1
    quads.extend((*t, default_graph)
                 for t in _parse_triples(src[chunk_start:], prefixes))
    if not quads:
        raise SparqlError(f"empty {what} template")
    for (s, p, o, g) in quads:
        if isinstance(p, Path):
            raise SparqlError(f"property paths are not allowed in {what}")
        if ground and any(isinstance(x, Var) for x in (s, p, o, g)):
            raise SparqlError(f"{what} requires ground triples "
                              f"(no variables)")
        if not isinstance(s, Var) and s.startswith('"'):
            raise SparqlError(f"{what} subject cannot be a literal")
        if not isinstance(p, Var) and not p.startswith("<"):
            raise SparqlError(f"{what} predicate must be an IRI")
        if g is not None and not isinstance(g, Var) \
                and not g.startswith("<"):
            raise SparqlError(f"{what} graph name must be an IRI")
    return quads


def _take_update_braced(op: str, i: int, what: str) -> tuple[str, int]:
    if i >= len(op) or op[i] != "{":
        raise SparqlError(f"{what} must be followed by {{ ... }}")
    return _take_braced(op, i)


_GM_CLEAR = re.compile(
    r"^(CLEAR|DROP)\s+(?:SILENT\s+)?"
    r"(?:GRAPH\s+(<[^>]*>|[A-Za-z_][\w-]*:[\w.-]*)|(DEFAULT|NAMED|ALL))"
    r"\s*$", re.IGNORECASE)
_GM_MOVE = re.compile(
    r"^(ADD|COPY|MOVE)\s+(?:SILENT\s+)?"
    r"(?:(?:GRAPH\s+)?(<[^>]*>|[A-Za-z_][\w-]*:[\w.-]*)|(DEFAULT))"
    r"\s+TO\s+"
    r"(?:(?:GRAPH\s+)?(<[^>]*>|[A-Za-z_][\w-]*:[\w.-]*)|(DEFAULT))"
    r"\s*$", re.IGNORECASE)


def _apply_update_op(out: DataFrame, op: str,
                     prefixes: dict[str, str]) -> DataFrame:
    spark = out.sparkSession
    key = ["subj", "pred", "obj"]
    has_graph = "graph" in out.columns

    def need_graph(what: str) -> None:
        if not has_graph:
            raise SparqlError(
                f"{what} needs a quad store (no graph column)")

    def resolve_graph_iri(src: str, what: str) -> str:
        g = src if src.startswith("<") \
            else _resolve_term("pname", src, prefixes)
        if isinstance(g, Var) or not g.startswith("<"):
            raise SparqlError(f"{what} graph name must be an IRI")
        return g

    def graph_pred(g):  # g None = the default graph
        return F.col("graph").isNull() if g is None \
            else F.col("graph").eqNullSafe(F.lit(g))

    def ground_df(src: str, what: str) -> DataFrame:
        quads = _update_template(src, prefixes, what, ground=True)
        if any(g is not None for (_, _, _, g) in quads):
            need_graph(f"GRAPH in {what}")
        return spark.createDataFrame(
            quads, "subj string, pred string, obj string, graph string")

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

    m = re.match(
        r"^LOAD\s+(?:SILENT\s+)?<([^>]*)>"
        r"(?:\s+INTO\s+GRAPH\s+(<[^>]*>|[A-Za-z_][\w-]*:[\w.-]*))?\s*$",
        op, re.IGNORECASE)
    if m:
        # LOAD <path> [INTO GRAPH <g>]: the distributed N-Quads source
        # (kgloom/exec/rdfsource.py — spark.read.text + codegen regex,
        # scales to dump-sized files) unioned in with insert set
        # semantics.  INTO GRAPH retargets every loaded quad (SPARQL
        # 1.1 Update §3.1.4); without it, N-Quads graph labels are
        # kept (dropped on a bare triple store).
        from .exec.rdfsource import read_nquads
        path = m.group(1)
        if path.startswith("file://"):
            path = path[len("file://"):]
        elif re.match(r"^[a-z][a-z0-9+.-]*://", path):
            # remote fetches from executors are a different feature
            # (and an SSRF surface) — local dumps only
            raise SparqlError(
                f"unsupported LOAD scheme in <{m.group(1)}> "
                f"(local paths / file:// only)")
        df = read_nquads(spark, path)
        if m.group(2):
            need_graph("LOAD INTO GRAPH")
            df = df.withColumn("graph", F.lit(
                resolve_graph_iri(m.group(2), "LOAD")).cast("string"))
        return insert_new(out, df)

    m = _GM_CLEAR.match(op)
    if m:
        need_graph(m.group(1).upper())
        if m.group(2):
            return out.where(
                ~graph_pred(resolve_graph_iri(m.group(2), m.group(1))))
        kw = m.group(3).upper()
        if kw == "ALL":
            return out.where(F.lit(False))
        if kw == "NAMED":
            return out.where(F.col("graph").isNull())
        return out.where(F.col("graph").isNotNull())  # DEFAULT

    m = _GM_MOVE.match(op)
    if m:
        verb = m.group(1).upper()
        need_graph(verb)
        src = None if m.group(3) else resolve_graph_iri(m.group(2), verb)
        dst = None if m.group(5) else resolve_graph_iri(m.group(4), verb)
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

    if re.match(r"^CREATE\s+(SILENT\s+)?GRAPH\s+", op, re.IGNORECASE):
        # graphs have no independent existence in a quad table: an
        # empty graph IS absence — CREATE is a conformance no-op
        return out

    with_g = None
    m = re.match(r"^WITH\s+(<[^>]*>|[A-Za-z_][\w-]*:[\w.-]*)\s*", op,
                 re.IGNORECASE)
    if m:
        with_g = resolve_graph_iri(m.group(1), "WITH")
        need_graph("WITH")
        op = op[m.end():]

    def exec_where(src: str) -> DataFrame:
        group = _parse_group(src, prefixes)
        if group.is_empty():
            raise SparqlError("empty basic graph pattern")
        if with_g is not None:
            # WITH sets the active graph for matching (§3.1.3): wrap
            # the whole WHERE in a GRAPH scope
            outer = GroupPattern()
            outer.graphs.append((with_g, group))
            group = outer
        return _exec_group(out, group, prefixes)

    m = re.match(r"^(INSERT|DELETE)\s+DATA\s*", op, re.IGNORECASE)
    if m:
        if with_g is not None:
            raise SparqlError("WITH does not apply to DATA operations")
        src, j = _take_update_braced(op, m.end(), f"{m.group(1)} DATA")
        if op[j:].strip():
            raise SparqlError(f"trailing text after update: {op[j:]!r}")
        df = ground_df(src, f"{m.group(1).upper()} DATA")
        if m.group(1).upper() == "DELETE":
            return apply_delete(out, F.broadcast(df))
        return insert_new(out, df)

    m = re.match(r"^DELETE\s+WHERE\s*", op, re.IGNORECASE)
    if m:
        src, j = _take_update_braced(op, m.end(), "DELETE WHERE")
        if op[j:].strip():
            raise SparqlError(f"trailing text after update: {op[j:]!r}")
        template = _update_template(src, prefixes, "DELETE WHERE",
                                    default_graph=with_g)
        if any(t[3] is not None for t in template):
            need_graph("GRAPH in DELETE WHERE")
        sol = exec_where(src)
        return apply_delete(
            out, _instantiate_template(sol, template, "DELETE WHERE"))

    del_t = ins_t = None
    i = 0
    m = re.match(r"^DELETE\s*", op, re.IGNORECASE)
    if m and op[m.end():m.end() + 1] == "{":
        src, i = _take_update_braced(op, m.end(), "DELETE")
        del_t = _update_template(src, prefixes, "DELETE template",
                                 default_graph=with_g)
    m = re.match(r"\s*INSERT\s*", op[i:], re.IGNORECASE)
    if m and op[i + m.end():i + m.end() + 1] == "{":
        src, j = _take_update_braced(op[i:], m.end(), "INSERT")
        ins_t = _update_template(src, prefixes, "INSERT template",
                                 default_graph=with_g)
        i += j
    if del_t is None and ins_t is None:
        raise SparqlError(f"unsupported update operation: {op[:60]!r}")
    for t in (del_t or []) + (ins_t or []):
        if t[3] is not None:
            need_graph("GRAPH in update template")
            break
    m = re.match(r"\s*WHERE\s*", op[i:], re.IGNORECASE)
    if m is None:
        raise SparqlError("DELETE/INSERT templates require WHERE")
    src, j = _take_update_braced(op[i:], m.end(), "WHERE")
    if op[i + j:].strip():
        raise SparqlError(f"trailing text after update: {op[i + j:]!r}")
    # both templates instantiate against the PRE-update state (SPARQL
    # 1.1 Update §3.1.3: the WHERE is evaluated once, DELETE applies
    # before INSERT)
    sol = exec_where(src)
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
    against the previous operation's result): ``INSERT DATA {…}``,
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
    text = _strip_comments(update)
    if _UNSUPPORTED.search(text):
        raise SparqlError(
            f"unsupported SPARQL feature: {_UNSUPPORTED.search(text).group(0)}")
    prefixes: dict[str, str] = {}
    for m in re.finditer(r"PREFIX\s+([A-Za-z_][\w-]*)?:\s*<([^>]*)>", text,
                         re.IGNORECASE):
        prefixes[m.group(1) or ""] = m.group(2)
    text = re.sub(r"PREFIX\s+[\w-]*:\s*<[^>]*>", "", text,
                  flags=re.IGNORECASE)
    out = quads
    ran = False
    for op in _split_top_semis(text):
        op = op.strip()
        if not op:
            continue
        out = _apply_update_op(out, op, prefixes)
        ran = True
    if not ran:
        raise SparqlError("empty update script")
    return out
