"""Local mirror of the driver's correctness gate: run each
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()``
on DuckDB over the same parquet tables; compare row multisets."""

import math
import os
import sys

import duckdb
import pytest

# the checkout this test file belongs to, wherever it lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ducks():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm_arrow(t):
    """Collapse representation-only arrow-type differences that the
    driver's hash treats as equal (string widths, tz spelling), while
    keeping width/kind differences (int64 vs decimal128) distinct."""
    import pyarrow as pa

    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return "timestamp"
    # integer widths hash alike at the driver (int32 n_tokens vs the
    # oracle's int64 was green in r3) — but decimal128 (DuckDB HUGEINT)
    # vs int64 does NOT, so only plain-integer widths collapse here
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_norm_arrow(t.value_type)}>"
    return str(t)


def canon(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c] if isinstance(row, dict) else row[cols.index(c)]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["subj", "pred", "obj"]


def test_every_query_has_an_oracle():
    """queries() and oracle_sql() name the same queries, so a query
    added without its DuckDB oracle fails here."""
    assert set(QUERIES) == set(ORACLES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(spark, ducks, name):
    sdf = QUERIES[name](spark, SF_DIR)
    cols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    ores = ducks.execute(ORACLES[name]).fetchall()
    ocols = [d[0] for d in ducks.description]
    assert sorted(cols) == sorted(ocols), (cols, ocols)
    # Typed compare, mirroring the driver's value-hash which is
    # type-sensitive (round-3 lesson: DuckDB HUGEINT vs Spark bigint
    # hash-mismatched on value-identical results). Compare the arrow
    # type of every shared column, with lossless-width normalisation.
    otypes = {f.name: _norm_arrow(f.type)
              for f in ducks.execute(ORACLES[name]).arrow().schema}
    stypes = {f.name: _norm_arrow(f.type) for f in sdf.toArrow().schema}
    for c in cols:
        assert stypes[c] == otypes[c], (name, c, stypes[c], otypes[c])
    got = canon([dict(zip(cols, r)) for r in srows], cols)
    want = canon([dict(zip(ocols, r)) for r in ores], ocols)
    assert len(got) == len(want), (name, len(got), len(want))
    assert got == want, (name, got[:3], want[:3])
    # Replay the driver's pandas-based canonicalization (round-4
    # lesson: transcripts_chat_render's list-typed mask columns came
    # back from DuckDB's .df() as numpy arrays, and the driver's
    # pandas.sort_values over all columns raised 'unhashable type:
    # numpy.ndarray' — invisible to the tuple compare above).  Any
    # output shape that the driver's canon cannot sort must fail HERE.
    odf = ducks.execute(ORACLES[name]).df()
    try:
        odf.sort_values(by=sorted(ocols))
        sdf.toPandas().sort_values(by=sorted(cols))
    except TypeError as e:  # pragma: no cover - regression guard
        pytest.fail(f"{name}: driver pandas canon would fail: {e}")
