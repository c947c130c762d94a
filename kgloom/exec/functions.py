"""Function-tree → Spark SQL compiler.

Executes the reference's scalar ``Function`` surface
(`/root/reference/operator/src/lib.rs:280-331`) as Catalyst expressions,
emitted as Spark SQL *text*: the binder hands one ``selectExpr`` per
Extend to the JVM, so binding a mapping costs a few py4j round trips
instead of one per Column node.  Everything stays JVM-side
(whole-stage codegen), RFC-3986 percent-encoding included (see
``uri_encode_sql``).  FnO calls are the one seam that still builds
Columns: FnO implementations (and ShExML ``functions=`` helpers) are
Column callables by contract, so their parameters arrive as
``F.expr(param_sql)`` and their result is bound as a hidden helper
column the SQL refers to by name.

Golden-corpus semantics implemented here:

- TemplateString: any null substitution value ⇒ null term (Spark
  ``concat`` null-propagation gives this for free);
- UriEncode over a TemplateString encodes the *substituted values only*,
  never the template's literal text (RMLTC0005a: the ``;`` in
  ``http://example.com/{fname};{lname}`` survives unencoded);
- Iri: relative results are resolved against the document ``@base``
  *after* encoding (RMLTC0020a: ``http%3A%2F%2F...`` is relative ⇒ base
  is prepended); reference-valued IRIs are not encoded (RMLTC0019a);
- Literal: N-Triples string escaping + optional ``@lang`` / ``^^<dtype>``
  (serializer/util.rs:31-37 — lang wins over dtype, never both).
"""

from __future__ import annotations

import re
from typing import Callable, Optional
from urllib.parse import quote

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..algebra import Function, template_split
from ..syntax import LITERAL_ESCAPES

_ABS_IRI_PATTERN = "^[A-Za-z][A-Za-z0-9+.-]*:"
_INVALID_IRI_CHARS = "[\\x00-\\x20<>\"{}|^`\\\\]"

#: Synthetic 0-based document-order row index the binder materializes on
#: a source whenever an ExtendOp function tree contains an AutoIncrement
#: node (ShExML AUTOINCREMENT — algebra.Function docstring).
AUTOINC_IDX = "__autoinc_idx__"


# --- SQL text building blocks ---------------------------------------------

def sql_ident(name: str) -> str:
    """Backtick-quoted identifier: any column name, dots included, is
    one top-level column."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(s: Optional[str]) -> str:
    """A string literal that parses to exactly ``s`` whatever
    ``spark.sql.parser.escapedStringLiterals`` is: text without quotes
    or backslashes is spelled as is, anything else as UTF-8 bytes."""
    if s is None:
        return "CAST(NULL AS STRING)"
    if "'" in s or "\\" in s:
        return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"
    return f"'{s}'"


def _concat(parts: list[str]) -> str:
    if not parts:
        return "''"
    return parts[0] if len(parts) == 1 else f"concat({', '.join(parts)})"


# --- RFC-3986 percent-encoding ------------------------------------------
#
# Spark's ``url_encode`` (Java URLEncoder, application/x-www-form-
# urlencoded) differs from RFC-3986 ``urllib.parse.quote(s, safe='')``
# (the Rust ``urlencoding`` crate the reference uses, Cargo.toml:44) in
# exactly three tokens — space→'+' (must be %20), '*' kept (must be
# %2A), '~'→%7E (must stay '~') — fixed up with three replaces.

def uri_encode_sql(sql: str) -> str:
    return ("replace(replace(replace(url_encode(CAST(" + sql +
            " AS STRING)), '+', '%20'), '*', '%2A'), '%7E', '~')")


def uri_encode(col: Column) -> Column:
    """Column form of ``uri_encode_sql`` for Column-built callers
    (SPARQL ``ENCODE_FOR_URI``, mention triples)."""
    c = F.url_encode(col.cast("string"))
    c = F.replace(c, F.lit("+"), F.lit("%20"))
    c = F.replace(c, F.lit("*"), F.lit("%2A"))
    return F.replace(c, F.lit("%7E"), F.lit("~"))


# --- N-Triples literal escaping --------------------------------------------

def escape_literal(sql: str) -> str:
    """SQL for the lexical form ``sql`` with the escapes of the
    canonical rendered literal (:data:`kgloom.syntax.LITERAL_ESCAPES`)."""
    out = f"CAST({sql} AS STRING)"
    for raw, esc in LITERAL_ESCAPES:
        out = f"replace({out}, {sql_string(raw)}, {sql_string(esc)})"
    return out


class FunctionCompileError(Exception):
    pass


#: FnO registry — IRI → callable(params: dict[str, Column]) -> Column.
#: GREL basics registered; extend via register_fno().
FNO_REGISTRY: dict[str, Callable[[dict[str, Column]], Column]] = {}


def register_fno(iri: str, fn: Callable[[dict[str, Column]], Column]) -> None:
    FNO_REGISTRY[iri] = fn


def _grel_param(params: dict[str, Column], *names: str) -> Column:
    for n in names:
        for k, v in params.items():
            if k.endswith(n):
                return v
    if params:
        return next(iter(params.values()))
    raise FunctionCompileError(f"FnO call missing parameter {names}")


def _grel_value(p: dict[str, Column]) -> Column:
    """The principal value parameter (grel:valueParameter /
    grel:param_string_s / ...); falls back to the first parameter for
    single-argument functions."""
    return _grel_param(p, "valueParameter", "valueParam", "string_s", "_s")


_GREL = "http://users.ugent.be/~bjdmeest/function/grel.ttl#"

#: GREL registry — every implementation is a pure Column expression
#: (whole-stage codegen, no Python workers).  Boolean-valued functions
#: (contains/startsWith/endsWith) render as "true"/"false" when used
#: as literal values, matching GREL's boolean→string coercion.
for _iri, _impl in {
    _GREL + "toUpperCase":
        lambda p: F.upper(_grel_value(p)),
    _GREL + "toLowerCase":
        lambda p: F.lower(_grel_value(p)),
    _GREL + "trim":
        lambda p: F.trim(_grel_value(p)),
    _GREL + "toTitleCase":
        lambda p: F.initcap(_grel_value(p)),
    _GREL + "string_length":
        lambda p: F.length(_grel_value(p)),
    _GREL + "string_contains":
        lambda p: _grel_value(p).contains(
            _grel_param(p, "string_sub", "sub")),
    _GREL + "string_startsWith":
        lambda p: _grel_value(p).startswith(
            _grel_param(p, "string_sub", "sub")),
    _GREL + "string_endsWith":
        lambda p: _grel_value(p).endswith(
            _grel_param(p, "string_sub", "sub")),
    # literal (non-regex) find/replace — GREL's replace(value, find,
    # replace) on plain strings
    _GREL + "string_replace":
        lambda p: F.replace(
            _grel_value(p).cast("string"),
            _grel_param(p, "string_find", "find").cast("string"),
            _grel_param(p, "string_replace", "replace").cast("string")),
    _GREL + "string_split":
        lambda p: F.split(
            _grel_value(p).cast("string"),
            # literal separator: regex metacharacters are escaped so
            # split("a.b", ".") splits on the dot, not on any-char
            F.regexp_replace(
                _grel_param(p, "string_sep", "sep").cast("string"),
                F.lit(r"([.*+?^${}()\[\]\\|])"), F.lit(r"\\$1"))),
    _GREL + "string_md5":
        lambda p: F.md5(_grel_value(p).cast("string")),
    _GREL + "string_sha1":
        lambda p: F.sha1(_grel_value(p).cast("string")),
    _GREL + "toNumber":
        lambda p: _grel_value(p).cast("double"),
    _GREL + "math_floor":
        lambda p: F.floor(_grel_value(p).cast("double")),
    _GREL + "math_ceil":
        lambda p: F.ceil(_grel_value(p).cast("double")),
    _GREL + "math_round":
        lambda p: F.round(_grel_value(p).cast("double"), 0).cast("long"),
    _GREL + "math_abs":
        lambda p: F.abs(_grel_value(p).cast("double")),
    _GREL + "math_max":
        lambda p: F.greatest(*[c.cast("double") for c in p.values()]),
    _GREL + "math_min":
        lambda p: F.least(*[c.cast("double") for c in p.values()]),
}.items():
    register_fno(_iri, _impl)


#: one hidden helper column per FnO call: (name, Column, level); a
#: helper reads only helpers of lower levels
Helpers = list[tuple[str, Column, int]]


def compile_sql(fn: Function, helpers: Helpers,
                encode_values: bool = False) -> str:
    """Compile one Function node to Spark SQL producing the *rendered*
    RDF term lexical form (``<iri>`` / ``"literal"@lang`` / ``_:label``)
    for term-kind nodes, or the raw string for inner value nodes.

    FnO calls append their helper column to ``helpers`` (see
    ``bind_helpers``).  ``encode_values`` is set when compiling under a
    UriEncode wrapper — for templates it encodes substituted values
    only.
    """
    k = fn.kind

    def sub(f: Function, enc: bool = False) -> str:
        return compile_sql(f, helpers, enc)

    def enc(sql: str) -> str:
        return uri_encode_sql(sql) if encode_values else sql

    if k == "Reference":
        return enc(sql_ident(fn.value))

    if k == "Constant":
        if encode_values and fn.value is not None:
            return sql_string(quote(fn.value, safe=""))
        return sql_string(fn.value)

    if k == "TemplateString":
        # concat propagates null: any null substitution ⇒ null term
        return _concat([sql_string(text) if kind == "lit"
                        else enc(sql_ident(text))
                        for kind, text in template_split(fn.value)])

    if k == "Concatenate":
        return _concat([sub(fn.left, encode_values),
                        sql_string(fn.separator or ""),
                        sub(fn.right, encode_values)])

    if k == "Replace":
        inner = sub(fn.inner)
        if not fn.replace_map:
            return inner
        whens = []
        for key, values in fn.replace_map:
            cond = (f"{inner} IN ({', '.join(map(sql_string, values))})"
                    if values else "false")
            whens.append(f"WHEN {cond} THEN {sql_string(key)}")
        return f"CASE {' '.join(whens)} ELSE {inner} END"

    if k == "TemplateFunctionValue":
        pair_map = dict(fn.pairs)
        parts = []
        for kind, text in template_split(fn.value or ""):
            if kind == "lit":
                parts.append(sql_string(text))
            elif text in pair_map:
                parts.append(enc(sub(pair_map[text])))
            else:
                raise FunctionCompileError(
                    f"template variable {text!r} has no bound function")
        return _concat(parts)

    if k == "UriEncode":
        return sub(fn.inner, True)

    if k == "Iri":
        value = f"CAST({sub(fn.inner, encode_values)} AS STRING)"
        # IRI validity: values containing chars outlawed in IRIs (space,
        # control chars, <>"{}|^`\) yield NO term — golden RMLTC0019b /
        # 0020b drop the "Juan Daniel" / "Emily Smith" rows entirely.
        # The class has no anchors, so a resolved IRI is invalid iff the
        # value or the (constant) base is.
        invalid = f"{value} RLIKE {sql_string(_INVALID_IRI_CHARS)}"
        absolute = f"concat('<', {value}, '>')"
        if not fn.base:
            return f"CASE WHEN {invalid} THEN NULL ELSE {absolute} END"
        relative = ("NULL" if re.search(_INVALID_IRI_CHARS, fn.base) else
                    f"concat({sql_string('<' + fn.base)}, {value}, '>')")
        return (f"CASE WHEN {invalid} THEN NULL "
                f"WHEN {value} RLIKE {sql_string(_ABS_IRI_PATTERN)} "
                f"THEN {absolute} ELSE {relative} END")

    if k == "Literal":
        body = ["'\"'", escape_literal(sub(fn.inner)), "'\"'"]
        # lang wins; never both (serializer/util.rs:31-37)
        if fn.langtype is not None:
            body += ["'@'", sub(fn.langtype)]
        elif fn.dtype is not None:
            body += ["'^^<'", sub(fn.dtype), "'>'"]
        return _concat(body)

    if k == "BlankNode":
        return _concat(["'_:'", sub(fn.inner)])

    if k in ("Upper", "Lower"):
        return f"{k.lower()}({sub(fn.inner, encode_values)})"

    if k == "Conditional":
        # inner when the condition holds, else null (triple suppressed)
        cond = sub(dict(fn.pairs)["if"])
        return (f"CASE WHEN CAST({cond} AS BOOLEAN) "
                f"THEN {sub(fn.inner, encode_values)} END")

    if k == "AutoIncrement":
        # prefix + (start + step·row_idx) + suffix; past `end` ⇒ null
        # (suppressing the term), over the binder-provided AUTOINC_IDX
        params = {name: (c.value or "") for name, c in fn.pairs}
        start = int(params.get("start", "0") or 0)
        step = int(params.get("step", "1") or 1)
        val = f"({start} + {step} * CAST({sql_ident(AUTOINC_IDX)} AS BIGINT))"
        if "end" in params:
            val = f"CASE WHEN {val} <= {int(params['end'])} THEN {val} END"
        return enc(_concat([sql_string(params.get("prefix", "")),
                            f"CAST({val} AS STRING)",
                            sql_string(params.get("suffix", ""))]))

    if k == "FnO":
        impl = FNO_REGISTRY.get(fn.value)
        if impl is None:
            raise FunctionCompileError(
                f"no FnO implementation registered for {fn.value!r}")
        first = len(helpers)
        params = {name: F.expr(sub(f)) for name, f in fn.pairs}
        level = 1 + max((lvl for _, _, lvl in helpers[first:]), default=-1)
        name = f"__fno{len(helpers)}__"
        helpers.append((name, impl(params), level))
        return sql_ident(name)

    raise FunctionCompileError(f"unknown Function kind {k!r}")


def bind_helpers(df, helpers: Helpers):
    """Add the FnO helper columns ``compile_sql`` collected, one
    ``withColumns`` per nesting level."""
    for level in sorted({lvl for _, _, lvl in helpers}):
        df = df.withColumns({name: col for name, col, lvl in helpers
                             if lvl == level})
    return df


def compile_function(fn: Function) -> Column:
    """Column form of ``compile_sql`` for callers without a DataFrame.
    An FnO call nested inside another node needs its helper column
    bound on the DataFrame: bind such trees with
    ``binder.bind_extend``."""
    helpers: Helpers = []
    sql = compile_sql(fn, helpers)
    if not helpers:
        return F.expr(sql)
    if fn.kind == "FnO" and len(helpers) == 1:
        return helpers[0][1]
    raise FunctionCompileError(
        "an FnO call nested in a term needs a DataFrame: bind it with "
        "binder.bind_extend")
