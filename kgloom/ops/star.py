"""RDF-star quoted-triple operators.

RDF-star (W3C RDF-star WG drafts; Hartig's RDF* — public literature)
lets a triple itself be the subject or object of another triple:
``<< s p o >> prov:confidence "0.9"``.  The reference engine has no
RDF-star surface at all; here quoted triples are first-class rendered
TERMS — plain strings ``<< s p o >>`` in the engine's lexical-form
convention — so every quad-consuming operator (serializers, the
N-Quads reader's star grammar in :mod:`kgloom.exec.rdfsource`,
SPARQL over rendered terms, reasoning joins) carries them without
schema changes, exactly like IRIs and literals.

Scale shape: quoting/unquoting is pure Catalyst string work (concat /
regexp_extract) — map-side, codegen, no shuffle, no Python.  One
nesting level is supported end-to-end (the dominant provenance/
qualification use); nested quoting raises at parse time rather than
silently misparsing.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: the one quoted-triple grammar (the N-Quads reader and SPARQL import
#: it): ``<< s p o >>``, one level — inner subject IRI/bnode (no
#: spaces), inner predicate an IRI, inner object everything up to the
#: closing ``>>`` (escape-aware literal group, so ``>>`` inside a
#: literal is safe).  Groups 1-3 capture the inner terms.
QUOTED_TRIPLE = (r'<<\s*(<[^>]*>|_:\S+)\s+(<[^>]*>)\s+'
                 r'(<[^>]*>|_:\S+|"(?:[^"\\]|\\.)*"'
                 r'(?:\^\^<[^>]*>|@[A-Za-z][A-Za-z0-9\-]*)?)\s*>>')
#: decomposition regex: the whole value is one quoted triple
UNQUOTE_RE = f"^{QUOTED_TRIPLE}$"


def quote_triple(subj: Column, pred: Column, obj: Column) -> Column:
    """Render a quoted-triple term ``<< s p o >>`` from three rendered
    term columns.  The inputs must themselves be unquoted terms (one
    nesting level); feeding an already-quoted term produces a string
    the star grammar rejects, keeping the depth limit honest."""
    return F.concat(F.lit("<< "), subj, F.lit(" "), pred, F.lit(" "),
                    obj, F.lit(" >>"))


def is_quoted(col: Column) -> Column:
    return col.rlike(UNQUOTE_RE)


def unquote_triple(col: Column) -> Column:
    """Quoted-triple term → struct (subj, pred, obj) of the inner
    rendered terms; null struct fields for non-quoted terms."""
    return F.struct(
        F.nullif(F.regexp_extract(col, UNQUOTE_RE, 1), F.lit(""))
        .alias("subj"),
        F.nullif(F.regexp_extract(col, UNQUOTE_RE, 2), F.lit(""))
        .alias("pred"),
        F.nullif(F.regexp_extract(col, UNQUOTE_RE, 3), F.lit(""))
        .alias("obj"))


def annotate(triples: DataFrame, pred: str, obj: Column) -> DataFrame:
    """Provenance/qualification annotation: for every input triple,
    emit ``<< s p o >> <pred> obj`` (plus a null graph) — the RDF-star
    idiom for statement-level metadata (source, confidence, validity).
    ``obj`` is any Column over the input row, so annotations can carry
    per-triple values.  Map-side only."""
    return triples.select(
        quote_triple(F.col("subj"), F.col("pred"),
                     F.col("obj")).alias("subj"),
        F.lit(pred).alias("pred"),
        obj.alias("obj"),
        F.lit(None).cast("string").alias("graph"))


def deconstruct(annotations: DataFrame) -> DataFrame:
    """Inverse view of :func:`annotate`: rows whose subject is a
    quoted triple, exploded to ``(inner_subj, inner_pred, inner_obj,
    pred, obj)`` — the join-ready shape for combining statement
    metadata with the asserted graph."""
    inner = unquote_triple(F.col("subj"))
    return (annotations
            .where(is_quoted(F.col("subj")))
            .select(inner["subj"].alias("inner_subj"),
                    inner["pred"].alias("inner_pred"),
                    inner["obj"].alias("inner_obj"),
                    "pred", "obj"))


def standardize_bnodes(df: DataFrame, tag: str) -> DataFrame:
    """Prefix every blank-node label with ``tag`` in subject/object
    position (``_:x`` → ``_:tag.x``) — the blank-node renaming step of
    an RDF merge (RDF 1.1 Semantics §5.1: merging graphs requires
    standardizing apart their blank nodes; a plain union would
    incorrectly identify same-labelled bnodes from different graphs).
    Map-side regexp_replace; quoted triples' INNER bnode terms are
    rewritten too (same replacement applies inside the ``<< … >>``
    rendering via unquote → rename → requote); literal CONTENT is
    never touched — renaming applies only to whole bnode terms, so a
    literal like ``"see _:b"`` passes through unchanged."""
    if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_-]*", tag):
        raise ValueError(f"unsafe bnode tag {tag!r}")

    def fix_term(col):
        return F.when(
            col.startswith("_:"),
            F.concat(F.lit(f"_:{tag}."),
                     F.substring(col, 3, 1 << 30))).otherwise(col)

    def fix(col):
        inner = unquote_triple(col)
        requoted = quote_triple(fix_term(inner["subj"]), inner["pred"],
                                fix_term(inner["obj"]))
        return F.when(is_quoted(col), requoted).otherwise(fix_term(col))

    out = df.withColumn("subj", fix(F.col("subj"))) \
            .withColumn("obj", fix(F.col("obj")))
    return out


def rdf_merge(graphs: dict[str, DataFrame]) -> DataFrame:
    """RDF merge of named inputs: each graph's blank nodes are
    standardized apart under its (sorted) tag, then the union is taken
    with set semantics.  IRIs and literals are shared across graphs
    (they denote globally); only bnode identity is graph-scoped."""
    parts = [standardize_bnodes(g, tag)
             for tag, g in sorted(graphs.items())]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()
