"""Distributed N-Triples / N-Quads source.

The reference serializes to NTriples/NQuads but has no RDF *input*
(`/root/reference/operator/src/formats.rs:20-29` lists the output
formats; sources are CSV/JSON/XML/SQL only).  Reading RDF dumps back
is the missing half of the round trip — and at scale it is THE bulk
KG input format (public KG dumps ship as line-oriented N-Triples).

100-TB design: N-Quads is newline-delimited, so ``spark.read.text``
splits files at line boundaries across executors, and the whole parse
is two Catalyst ``regexp_extract`` passes — JVM-side, whole-stage
codegen, no Python anywhere (asserted by ``tests/test_rdfsource.py``).
Terms stay in their rendered lexical form (``<iri>``, ``_:b0``,
``"lit"@en``) — the same convention every quad-consuming operator in
this engine uses (SPARQL, reasoning, fusion), so a parsed dump plugs
into them directly.  Object literals are read into the engine's one
canonical spelling: ``\\uXXXX``, ``\\UXXXXXXXX``, ``\\'``, ``\\b`` and
``\\f`` decode to their characters and only ``\\ \" \\n \\r \\t`` stay
escaped (what mappings and SPARQL constants render), so equal
literals spelled differently in a dump compare equal.

Grammar handled (W3C N-Quads): IRI / blank-node subjects, IRI
predicates, IRI / blank-node / literal objects (with ``\\``-escapes,
``@lang`` tags and ``^^<datatype>``), optional IRI / blank-node graph
label, full-line comments, blank lines — plus RDF-star (N-Triples-
star) quoted triples ``<< s p o >>`` in subject and object position,
ONE level deep (nested quoting is malformed; see
:mod:`kgloom.ops.star` for the quoted-term constructors and
decomposition).  The object/graph split is unambiguous because each
object alternative is matched as a COMPLETE term (a lone trailing IRI
can never be half-object half-graph).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops.star import QUOTED_TRIPLE, UNQUOTE_RE
from ..syntax import LITERAL_ESCAPES

#: literal with escape-aware quoting and optional @lang / ^^<datatype>
_LIT = (r'"(?:[^"\\]|\\.)*"'
        r'(?:\^\^<[^>]*>|@[A-Za-z][A-Za-z0-9\-]*)?')
# line → (subject, [3 quoted-triple parts], predicate, object-and-maybe-
# graph); the lazy last group backtracks past "." characters inside
# literals because the terminating "." must be followed only by
# whitespace.  Quoted triples (N-Triples-star, ONE level — nested
# quoting is rejected as malformed) use the shared grammar.
_LINE_RE = (r'^\s*(' + QUOTED_TRIPLE + r'|<[^>]*>|_:\S+)\s+(<[^>]*>)'
            r'\s+(.*?)\s*\.\s*$')
# object-and-maybe-graph → (object, [3 quoted-triple parts], graph);
# object = IRI | bnode | quoted triple | literal
_OBJ_RE = (r'^(' + QUOTED_TRIPLE + r'|<[^>]*>|_:\S+|' + _LIT + r')'
           r'(?:\s+(<[^>]*>|_:\S+))?$')


def _canonical(term: F.Column) -> F.Column:
    """A quoted triple re-rendered with the engine's spacing
    ``<< s p o >>`` (the form SPARQL constants and
    :func:`~kgloom.ops.star.quote_triple` produce); other terms as is."""
    return F.regexp_replace(term, UNQUOTE_RE, "<< $1 $2 $3 >>")


# one token per escape, so an escaped backslash never starts another
_ESC_TOKEN = r"\\U[0-9A-Fa-f]{8}|\\u[0-9A-Fa-f]{4}|\\.|[^\\]+|\\"


def _canonical_literal(term: F.Column) -> F.Column:
    """A literal with every escape but ``\\ \" \\n \\r \\t`` decoded
    (the module docstring's canonical form); other terms as is."""
    def token(t: F.Column) -> F.Column:
        code = F.unhex(F.substring(t, 3, 8))
        char = F.when(F.length(t) == 10, F.decode(code, "UTF-32")) \
            .otherwise(F.decode(code, "UTF-16BE"))
        for raw, esc in LITERAL_ESCAPES:
            char = F.replace(char, F.lit(raw), F.lit(esc))
        return (F.when(t.startswith("\\") & (F.length(t) > 2), char)
                .when(t == "\\'", F.lit("'"))
                .when(t == "\\b", F.lit("\b"))
                .when(t == "\\f", F.lit("\f"))
                .otherwise(t))
    tokens = F.regexp_extract_all(term, F.lit(_ESC_TOKEN), 0)
    return (F.when(term.startswith('"') & term.rlike(r"\\[uU'bf]"),
                   F.array_join(F.transform(tokens, token), ""))
            .otherwise(term))


def parse_nquads_lines(lines: DataFrame, mode: str = "failfast",
                       column: str = "value") -> DataFrame:
    """Parse a DataFrame of N-Quads text lines into
    ``(subj, pred, obj, graph)`` (graph null for triples).

    mode="failfast" (default): any malformed line raises at action
    time via ``raise_error`` INSIDE the scan — no second validation
    pass over the data.  mode="permissive": malformed lines are
    dropped (the Spark CSV/JSON convention for dirty dumps)."""
    if mode not in ("failfast", "permissive"):
        raise ValueError(f"unknown mode {mode!r}")
    v = F.trim(F.col(column))
    data = (lines.where((v != "") & ~v.startswith("#"))
            .select(v.alias("__line"),
                    _canonical(F.regexp_extract(v, _LINE_RE, 1))
                    .alias("subj"),
                    F.regexp_extract(v, _LINE_RE, 5).alias("pred"),
                    F.regexp_extract(v, _LINE_RE, 6).alias("__rest")))
    data = data.select(
        "__line", "subj", "pred",
        _canonical_literal(_canonical(
            F.regexp_extract("__rest", _OBJ_RE, 1))).alias("obj"),
        F.nullif(F.regexp_extract("__rest", _OBJ_RE, 5), F.lit(""))
        .alias("graph"))
    ok = (F.col("subj") != "") & (F.col("obj") != "")
    if mode == "permissive":
        return data.where(ok).select("subj", "pred", "obj", "graph")
    return data.select(
        F.when(ok, F.col("subj")).otherwise(F.raise_error(F.concat(
            F.lit("malformed N-Quads line: "), F.col("__line"))))
        .alias("subj"),
        "pred", "obj", "graph")


def read_nquads(spark: SparkSession, path: str,
                mode: str = "failfast") -> DataFrame:
    """Scan N-Triples/N-Quads file(s) into a quad DataFrame.  Line
    splitting and both regex passes run distributed in codegen."""
    return parse_nquads_lines(spark.read.text(path), mode=mode)
