"""Minimal Turtle parser — just enough for RML/R2RML mapping documents.

The reference parses mappings with the sophia Turtle parser
(`/root/reference/rml-interpreter/src/extractors/io.rs:44-62`); rdflib is
not available in this environment, so this is a from-scratch
recursive-descent parser for the Turtle subset RML mappings use:

- ``@prefix`` / ``@base`` directives (and SPARQL-style PREFIX/BASE),
- IRIs ``<...>`` (resolved against @base when relative), prefixed names,
- the ``a`` keyword, ``;`` predicate lists, ``,`` object lists,
- anonymous blank nodes ``[ ... ]`` (nested) and labeled ``_:b`` nodes,
- RDF collections ``( ... )``,
- string literals (single/triple quoted) with the escapes of
  :func:`kgloom.syntax.unescape` (any other escape raises
  :class:`TurtleParseError`), ``@lang`` tags and ``^^`` datatypes, plus
  bare numeric/boolean literals.

Output: a list of (subject, predicate, object) triples where each term is
a tagged tuple: ``('iri', iri)``, ``('bnode', label)``, or
``('literal', lexical, datatype_iri_or_None, lang_or_None)``.
"""

from __future__ import annotations

import re
from typing import Optional

from ..syntax import Cursor, unescape

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = ("iri", RDF + "type")
RDF_FIRST = ("iri", RDF + "first")
RDF_REST = ("iri", RDF + "rest")
RDF_NIL = ("iri", RDF + "nil")

Term = tuple  # tagged tuples as documented above


class TurtleParseError(Exception):
    pass


_TOKEN = re.compile(
    r"""
      (?P<skip>\s+|\#[^\n]*)
    | (?P<IRIREF><[^<>"{}|^`\\\x00-\x20]*>)
    | (?P<STRING3>\"\"\"(?:[^"\\]|\\.|\"(?!\"\"))*\"\"\"|'''(?:[^'\\]|\\.|'(?!''))*''')
    | (?P<STRING>\"(?:[^"\\\n]|\\.)*\"|'(?:[^'\\\n]|\\.)*')
    | (?P<PREFIX_DIRECTIVE>@prefix\b|@base\b|PREFIX\b|BASE\b)
    | (?P<LANGTAG>@[a-zA-Z]+(?:-[a-zA-Z0-9]+)*)
    | (?P<DOUBLE>[+-]?(?:\d+\.\d*[eE][+-]?\d+|\.?\d+[eE][+-]?\d+))
    | (?P<DECIMAL>[+-]?\d*\.\d+)
    | (?P<INTEGER>[+-]?\d+)
    | (?P<DTYPE>\^\^)
    | (?P<BNODE>_:[A-Za-z0-9_][A-Za-z0-9_.-]*)
    | (?P<PNAME>(?:[A-Za-z0-9_][A-Za-z0-9_.-]*)?:(?:[A-Za-z0-9_:%]|[.-](?=[A-Za-z0-9_:%.-])|\\[-_~.!$&'()*+,;=/?\#@%])*)
    | (?P<KEYWORD>\b(?:a|true|false)\b)
    | (?P<PUNCT>[;,.\[\]()])
    """,
    re.VERBOSE,
)

XSD = "http://www.w3.org/2001/XMLSchema#"
_NUMERIC = {"INTEGER": "integer", "DECIMAL": "decimal", "DOUBLE": "double"}


_ABS_IRI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


def is_absolute_iri(iri: str) -> bool:
    return bool(_ABS_IRI_RE.match(iri))


def resolve_iri(iri: str, base: Optional[str]) -> str:
    """Simple base resolution: absolute IRIs pass through, relative IRIs
    are appended to the base (sufficient for mapping documents, whose
    bases end in '/' or '#')."""
    if is_absolute_iri(iri) or not base:
        return iri
    if iri.startswith("#"):
        return base.split("#")[0] + iri
    return base + iri


class _Parser(Cursor):
    grammar = _TOKEN
    error = TurtleParseError

    def __init__(self, text: str):
        super().__init__(text)
        self.prefixes: dict[str, str] = {}
        self.base: Optional[str] = None
        self.triples: list[tuple[Term, Term, Term]] = []
        self._bnode_n = 0

    def fresh_bnode(self) -> Term:
        self._bnode_n += 1
        return ("bnode", f"__anon{self._bnode_n}")

    def parse(self) -> None:
        while self.peek()[0] is not None:
            if self.peek()[0] == "PREFIX_DIRECTIVE":
                self._directive()
            else:
                self._triples_block()

    def _directive(self) -> None:
        _, val = self.next()
        if val in ("@prefix", "PREFIX"):
            _, pname = self.next()
            if not pname.endswith(":"):
                raise TurtleParseError(f"bad prefix name {pname!r}")
            self.prefixes[pname[:-1]] = self._iri("prefix")
        else:  # @base / BASE
            self.base = self._iri("base")
        if val.startswith("@"):
            self.expect(".")

    def _iri(self, what: str) -> str:
        kind, iritok = self.next()
        if kind != "IRIREF":
            raise TurtleParseError(f"{what} IRI expected")
        return resolve_iri(iritok[1:-1], self.base)

    def _triples_block(self) -> None:
        subj = self._term()
        self._predicate_object_list(subj)
        self.expect(".")

    def _predicate_object_list(self, subj: Term) -> None:
        while True:
            pred = RDF_TYPE if self.accept("a") else self._term()
            self.triples.append((subj, pred, self._term()))
            while self.accept(","):
                self.triples.append((subj, pred, self._term()))
            if not self.accept(";"):
                return
            # trailing ';'s before '.' or ']'
            while self.accept(";"):
                pass
            if self.at(".", "]"):
                return

    def _term(self) -> Term:
        kind, val = self.next()
        if kind == "IRIREF":
            return ("iri", resolve_iri(val[1:-1], self.base))
        if kind == "PNAME":
            prefix, _, local = val.partition(":")
            if prefix not in self.prefixes:
                raise TurtleParseError(f"undefined prefix {prefix!r} in {val!r}")
            local = re.sub(r"\\(.)", r"\1", local)
            return ("iri", self.prefixes[prefix] + local)
        if kind == "BNODE":
            return ("bnode", val[2:])
        if val == "[":
            node = self.fresh_bnode()
            if not self.accept("]"):
                self._predicate_object_list(node)
                self.expect("]")
            return node
        if val == "(":
            return self._collection()
        if kind in ("STRING", "STRING3"):
            q = 3 if kind == "STRING3" else 1
            lex = unescape(val[q:-q], TurtleParseError)
            if self.peek()[0] == "LANGTAG":
                return ("literal", lex, None, self.next()[1][1:])
            if self.accept("^^"):
                dt = self._term()
                if dt[0] != "iri":
                    raise TurtleParseError("datatype must be an IRI")
                return ("literal", lex, dt[1], None)
            return ("literal", lex, None, None)
        if kind in _NUMERIC:
            return ("literal", val, XSD + _NUMERIC[kind], None)
        if kind == "KEYWORD" and val in ("true", "false"):
            return ("literal", val, XSD + "boolean", None)
        raise TurtleParseError(f"unexpected token {val!r}")

    def _collection(self) -> Term:
        items: list[Term] = []
        while not self.accept(")"):
            if self.peek()[0] is None:
                raise TurtleParseError("unterminated collection")
            items.append(self._term())
        if not items:
            return RDF_NIL
        head = self.fresh_bnode()
        cur = head
        for i, item in enumerate(items):
            self.triples.append((cur, RDF_FIRST, item))
            if i == len(items) - 1:
                self.triples.append((cur, RDF_REST, RDF_NIL))
            else:
                nxt = self.fresh_bnode()
                self.triples.append((cur, RDF_REST, nxt))
                cur = nxt
        return head


class Graph:
    """A tiny indexed triple store over parsed Turtle."""

    def __init__(self, triples: list[tuple[Term, Term, Term]],
                 base: Optional[str] = None,
                 prefixes: Optional[dict[str, str]] = None):
        self.triples = triples
        self.base = base
        self.prefixes = prefixes or {}
        self._spo: dict[Term, dict[str, list[Term]]] = {}
        for s, p, o in triples:
            self._spo.setdefault(s, {}).setdefault(p[1], []).append(o)

    def objects(self, subj: Term, pred_iri: str) -> list[Term]:
        return self._spo.get(subj, {}).get(pred_iri, [])

    def object(self, subj: Term, pred_iri: str) -> Optional[Term]:
        objs = self.objects(subj, pred_iri)
        return objs[0] if objs else None

    def subjects_with(self, pred_iri: str, obj: Optional[Term] = None) -> list[Term]:
        out = []
        for s, preds in self._spo.items():
            for o in preds.get(pred_iri, []):
                if obj is None or o == obj:
                    out.append(s)
                    break
        return out

    def predicates(self, subj: Term) -> list[str]:
        return list(self._spo.get(subj, {}).keys())


def parse_turtle(text: str) -> Graph:
    p = _Parser(text)
    p.parse()
    return Graph(p.triples, base=p.base, prefixes=p.prefixes)


def parse_turtle_file(path: str) -> Graph:
    with open(path, "r", encoding="utf-8") as f:
        return parse_turtle(f.read())
