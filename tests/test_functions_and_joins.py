"""Unit coverage for the full Function surface (operator/src/lib.rs:
280-331) and all JoinOp flavors (lib.rs:139-154) at the binder level."""

import pytest
from pyspark.sql import functions as F

from kgloom.algebra import (
    ExtendOp,
    Function,
    JoinType,
    PredicateType,
    ProjectOp,
    SerializerOp,
    SourceOp,
    TargetOp,
    IOType,
    DataFormat,
)
from kgloom.exec.binder import SparkBinder, write_sinks
from kgloom.exec.functions import compile_function
from kgloom.plan import Plan, join as plan_join


@pytest.fixture()
def people(spark):
    return spark.createDataFrame(
        [("1", "ann kim", "a b"), ("2", "bo LI", None)],
        ["id", "name", "tags"])


def _vals(df, col="v"):
    return [r[col] for r in df.orderBy("id").select("id", col).collect()]


def _apply(df, fn):
    return df.withColumn("v", compile_function(fn))


def test_upper_lower_concatenate(people):
    up = Function.upper(Function.reference("name"))
    assert _vals(_apply(people, up)) == ["ANN KIM", "BO LI"]
    lo = Function.lower(Function.reference("name"))
    assert _vals(_apply(people, lo)) == ["ann kim", "bo li"]
    cc = Function.concatenate(Function.reference("id"), "-",
                              Function.reference("name"))
    assert _vals(_apply(people, cc)) == ["1-ann kim", "2-bo LI"]


def test_replace_matcher(people):
    rep = Function.replace({"AK": {"ann kim", "a.kim"}},
                           Function.reference("name"))
    assert _vals(_apply(people, rep)) == ["AK", "bo LI"]


def test_template_function_value(people):
    fn = Function.template_function(
        "{pfx}:{who}",
        {"pfx": Function.constant("p"),
         "who": Function.upper(Function.reference("name"))})
    assert _vals(_apply(people, fn)) == ["p:ANN KIM", "p:BO LI"]


def test_null_propagation_in_template(people):
    fn = Function.template("x/{tags}/{id}")
    assert _vals(_apply(people, fn)) == ["x/a b/1", None]


def test_iri_encoding_and_base(people):
    fn = Function.iri(Function.uri_encode(Function.template("{name}")),
                      base="http://b/")
    assert _vals(_apply(people, fn)) == ["<http://b/ann%20kim>",
                                         "<http://b/bo%20LI>"]


def test_literal_dtype_and_escaping(spark):
    df = spark.createDataFrame([("1", 'say "hi"\n')], ["id", "t"])
    fn = Function.literal(Function.reference("t"),
                          dtype=Function.constant("http://d"))
    assert _vals(_apply(df, fn)) == ['"say \\"hi\\"\\n"^^<http://d>']


def test_fno_helpers_inside_terms_and_autoincrement(people):
    """FnO calls nested in a term and in another FnO bind as helper
    columns the term's SQL reads; AUTOINCREMENT numbers the binder's
    row index and suppresses values past ``end``."""
    from kgloom.exec.binder import bind_extend
    grel = "http://users.ugent.be/~bjdmeest/function/grel.ttl#"

    def call(name, value):
        return Function.fno(grel + name, {grel + "valueParameter": value})

    def autoinc(**params):
        return Function(kind="AutoIncrement", pairs=tuple(
            (k, Function.constant(v)) for k, v in params.items()))

    df = bind_extend(people, ExtendOp.make({
        "iri": Function.iri(Function.uri_encode(Function.template_function(
            "x/{v}", {"v": call("toUpperCase", call(
                "trim", Function.reference("name")))})), base="http://b/"),
        "n": autoinc(start="10", step="5", end="14", prefix="p",
                     suffix="s"),
        "n_iri": Function.iri(Function.uri_encode(autoinc(prefix="a b/"))),
    }))
    rows = df.orderBy("id").select("iri", "n", "n_iri").collect()
    assert [tuple(r) for r in rows] == [
        ("<http://b/x/ANN%20KIM>", "p10s", "<a%20b%2F0>"),
        ("<http://b/x/BO%20LI>", None, "<a%20b%2F1>")]
    assert df.columns == ["id", "name", "tags", "__autoinc_idx__", "iri",
                          "n", "n_iri"]


def _join_plan(join_type, predicate=PredicateType.EQ):
    g = Plan()
    left = g.source(SourceOp.make({"source": "L"}, IOType.DATAFRAME))
    right = Plan(left.graph).source(SourceOp.make({"source": "R"},
                                                  IOType.DATAFRAME))
    jb = plan_join(left, right).alias("j")
    if join_type == JoinType.NATURAL:
        return jb.natural_join()
    if join_type == JoinType.CROSS:
        return jb.cross_join()
    return jb.theta_join([("k", "k")], predicate, join_type)


@pytest.mark.parametrize("join_type,expected", [
    (JoinType.INNER, {("1", "x")}),
    (JoinType.LEFT, {("1", "x"), ("2", None)}),
    (JoinType.RIGHT, {("1", "x"), (None, "y")}),
    (JoinType.CROSS, {("1", "x"), ("1", "y"), ("2", "x"), ("2", "y")}),
])
def test_join_flavors(spark, join_type, expected):
    L = spark.createDataFrame([("1", "l1"), ("2", "l2")], ["k", "lv"])
    R = spark.createDataFrame([("1", "x"), ("3", "y")], ["k", "rv"])
    plan = _join_plan(join_type)
    binder = SparkBinder(spark, dataframes={"L": L, "R": R})
    bound = {}
    for nid in plan.graph.topological_order():
        node = plan.graph.nodes[nid]
        preds = plan.graph.predecessors(nid)
        from kgloom.algebra import JoinOp, SourceOp as S
        if isinstance(node.operator, S):
            bound[nid] = binder._bind_source(node.operator)
        else:
            bound[nid] = binder._bind_join(node.operator,
                                           bound[preds[0].src],
                                           bound[preds[1].src])
    out = bound[plan.node_id]
    if join_type == JoinType.CROSS:
        got = {(r.k, r.j_rv) for r in out.collect()}
    else:
        got = {(r.k if "k" in out.columns else None, r.j_rv)
               for r in out.collect()}
    assert got == expected


def test_theta_join_lt(spark):
    L = spark.createDataFrame([("1",), ("2",)], ["k"])
    R = spark.createDataFrame([("2",), ("3",)], ["k"])
    plan = _join_plan(JoinType.INNER, PredicateType.LT)
    binder = SparkBinder(spark, dataframes={"L": L, "R": R})
    bound = {}
    for nid in plan.graph.topological_order():
        node = plan.graph.nodes[nid]
        preds = plan.graph.predecessors(nid)
        from kgloom.algebra import SourceOp as S
        if isinstance(node.operator, S):
            bound[nid] = binder._bind_source(node.operator)
        else:
            bound[nid] = binder._bind_join(node.operator,
                                           bound[preds[0].src],
                                           bound[preds[1].src])
    got = {(r.k, r.j_k) for r in bound[plan.node_id].collect()}
    assert got == {("1", "2"), ("1", "3"), ("2", "3")}


def test_natural_join_common_columns(spark):
    L = spark.createDataFrame([("1", "a"), ("2", "b")], ["k", "lv"])
    R = spark.createDataFrame([("1", "r")], ["k", "rv"])
    plan = _join_plan(JoinType.NATURAL)
    binder = SparkBinder(spark, dataframes={"L": L, "R": R})
    bound = {}
    for nid in plan.graph.topological_order():
        node = plan.graph.nodes[nid]
        preds = plan.graph.predecessors(nid)
        from kgloom.algebra import SourceOp as S
        if isinstance(node.operator, S):
            bound[nid] = binder._bind_source(node.operator)
        else:
            bound[nid] = binder._bind_join(node.operator,
                                           bound[preds[0].src],
                                           bound[preds[1].src])
    got = {(r.k, r.j_rv) for r in bound[plan.node_id].collect()}
    assert got == {("1", "r")}


def test_uri_encode_compiler_parity_fuzz(spark):
    """Terms compiled to Spark SQL text percent-encode exactly like
    ``urllib.parse.quote(s, safe='')`` (the Rust ``urlencoding`` crate
    the reference depends on) — fuzzed over printable ASCII, controls,
    unicode letters, emoji and the three URLEncoder divergence tokens
    (space, '*', '~') — and carry template text, column names and
    language tags holding quotes, backslashes, backticks, escaped
    braces, newlines, tabs and non-ASCII through verbatim, under both
    settings of ``spark.sql.parser.escapedStringLiterals``."""
    import random
    import string
    from urllib.parse import quote

    from kgloom.exec.binder import bind_extend

    rnd = random.Random(42)
    alphabet = string.printable + "éüßñçøœ漢字もじ🙂🚀 ~*+%"
    samples = [""] + [" * ~ + %20", "a b,c/d:e(f)"] + [
        "".join(rnd.choice(alphabet) for _ in range(rnd.randint(1, 40)))
        for _ in range(500)]
    odd = "c'o`l\\n\tñ\\q"  # a column name no identifier rule allows
    df = spark.createDataFrame([(s, s[::-1]) for s in samples],
                               ["s", odd])
    text = "x:'q`\\\\{b\\}\n\t\\ü/"  # template text; \{ \} are escapes
    lang = "en-'`\\\n\té"
    terms = {
        "tpl": Function.uri_encode(Function.template(
            text + "{s}/{" + odd + "}")),
        "lit": Function.literal(Function.reference(odd),
                                langtype=Function.constant(lang)),
        "const": Function.uri_encode(Function.constant(text)),
    }
    out = bind_extend(df, ExtendOp.make(terms))
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, "true")
    try:
        out = bind_extend(out, ExtendOp.make(
            {f"{k}_raw": fn for k, fn in terms.items()}))
    finally:
        spark.conf.unset(key)

    def nt(v):
        for raw, esc in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
                         ("\r", "\\r"), ("\t", "\\t")):
            v = v.replace(raw, esc)
        return v

    lit_text = text.replace("\\{", "{").replace("\\}", "}")
    for r in out.collect():
        want = {"tpl": f"{lit_text}{quote(r.s, safe='')}/"
                       f"{quote(r[odd], safe='')}",
                "lit": f'"{nt(r[odd])}"@{lang}',
                "const": quote(text, safe="")}
        for k, v in want.items():
            assert r[k] == v, (k, r.s, r[k], v)
            assert r[f"{k}_raw"] == v, (k, r.s, r[f"{k}_raw"], v)
