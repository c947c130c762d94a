"""Distributed deterministic flat JSON-LD serialization.

The reference enumerates a JSONLD serializer format but implements
only NQuads/NTriples (`/root/reference/operator/src/formats.rs:20-29`,
translator serializer/mod.rs) — this module implements it Spark-first,
like the TTL/TriG writers in :mod:`kgloom.exec.ttl`.

Shape: one *flattened node object* per SUBJECT per line —

    {"@id":"s","@type":["t",...],"<pred-iri>":[{"@id":...},...],...}

— valid JSON-LD 1.1 flattened form when the lines are wrapped in a
JSON array (the document writer emits NDJSON; ``[`` + join(",") + ``]``
of the part files is the array form).  Built entirely with Catalyst
collection functions: one shuffle to group (subj, pred), one to group
subj; string assembly is JVM codegen — no Python, no driver
materialization, full parallelism at 10^12 triples.

Determinism (what makes the TEXT oracle-checkable): keys order as
``@id``, ``@type``, then predicate IRIs sorted lexically; values
within a key sort lexically by their rendered JSON; duplicate triples
collapse (RDF set semantics).  Term mapping from the engine's
rendered N-Triples-style strings:

    <iri>          → {"@id":"iri"}
    _:b            → {"@id":"_:b"}
    "lex"          → {"@value":"lex"}
    "lex"@lang     → {"@language":"lang","@value":"lex"}
    "lex"^^<dt>    → {"@type":"dt","@value":"lex"}
    rdf:type obj   → bare "iri" inside the @type array

A literal's quoted lexical form embeds verbatim, except that a raw
control character U+0000–U+001F becomes its ``\\u00XX`` JSON escape: the
engine's canonical spelling escapes only \\" \\\\ \\n \\r \\t, which are
JSON string escapes too (the N-Quads reader decodes every other
N-Triples escape, :mod:`kgloom.exec.rdfsource`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

_LANG_RE = r'^(".*")@([A-Za-z][A-Za-z0-9-]*)$'
_DT_RE = r'^(".*")\^\^<(.*)>$'


def _strip_iri(col: Column) -> Column:
    return F.regexp_extract(col, r"^<(.*)>$", 1)


#: a raw control character a JSON string may not hold; \n \r \t reach
#: here already escaped
_CONTROL = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"


def _escape_controls(col: Column) -> Column:
    """``col`` with each raw control character as its ``\\u00xx`` JSON
    escape: split around the control characters, escape the pieces that
    are one, rejoin."""
    parts = F.split(col, f"(?<={_CONTROL})|(?={_CONTROL})")
    return F.array_join(F.transform(parts, lambda p: F.when(
        p.rlike(f"^{_CONTROL}$"),
        F.concat(F.lit("\\u00"), F.lower(F.lpad(F.hex(F.ascii(p)), 2, "0"))))
        .otherwise(p)), "")


def value_json(o: Column) -> Column:
    """Rendered object term, its control characters already escaped →
    its deterministic JSON-LD value object (see module docstring for
    the mapping)."""
    dt = F.regexp_extract(o, _DT_RE, 2)
    dtlex = F.regexp_extract(o, _DT_RE, 1)
    lang = F.regexp_extract(o, _LANG_RE, 2)
    langlex = F.regexp_extract(o, _LANG_RE, 1)
    return (
        F.when(o.startswith("<"),
               F.concat(F.lit('{"@id":"'), _strip_iri(o), F.lit('"}')))
        .when(o.startswith("_:"),
              F.concat(F.lit('{"@id":"'), o, F.lit('"}')))
        .when(dt != "",
              F.concat(F.lit('{"@type":"'), dt, F.lit('","@value":'),
                       dtlex, F.lit("}")))
        .when(lang != "",
              F.concat(F.lit('{"@language":"'), lang,
                       F.lit('","@value":'), langlex, F.lit("}")))
        .otherwise(F.concat(F.lit('{"@value":'), o, F.lit("}"))))


def jsonld_nodes(df: DataFrame) -> DataFrame:
    """(subj, pred, obj[, ...]) → (subj, jsonld): one deterministic
    flattened node object per subject.  JSON-LD has no named-graph
    slot at the node level; a ``graph`` column is ignored (wrap lines
    per graph in ``{"@id": g, "@graph": [...]}`` downstream when quad
    fidelity matters)."""
    # escaped once per row, below the distinct: value_json reads its
    # term in every branch
    t = df.select("subj", "pred",
                  _escape_controls(F.col("obj")).alias("obj")).distinct()
    typed = F.col("pred") == _RDF_TYPE
    key = F.when(typed, F.lit("@type")) \
           .otherwise(_strip_iri(F.col("pred")))
    entry = F.when(typed, F.concat(F.lit('"'),
                                   _strip_iri(F.col("obj")), F.lit('"'))) \
             .otherwise(value_json(F.col("obj")))
    po = (t.select(F.col("subj").alias("s"), key.alias("k"),
                   entry.alias("v"))
          .groupBy("s", "k")
          .agg(F.array_join(F.array_sort(F.collect_set("v")),
                            ",").alias("vs"))
          .withColumn("pk", F.when(F.col("k") == "@type",
                                   F.lit(0)).otherwise(F.lit(1)))
          .withColumn("pair", F.concat(F.lit('"'), F.col("k"),
                                       F.lit('":['), F.col("vs"),
                                       F.lit("]"))))
    body = F.array_join(
        F.transform(F.array_sort(F.collect_list(
            F.struct("pk", "k", "pair"))), lambda x: x["pair"]), ",")
    sid = F.when(F.col("s").startswith("<"),
                 _strip_iri(F.col("s"))).otherwise(F.col("s"))
    return (po.groupBy("s").agg(body.alias("body"))
            .select(F.col("s").alias("subj"),
                    F.concat(F.lit('{"@id":"'), sid, F.lit('",'),
                             F.col("body"), F.lit("}")).alias("jsonld")))


def jsonld_document_lines(df: DataFrame) -> DataFrame:
    """Single-column (``value``) NDJSON lines — one flattened node
    object per line, ready for a distributed ``.write.text`` sink."""
    return jsonld_nodes(df).select(F.col("jsonld").alias("value"))
