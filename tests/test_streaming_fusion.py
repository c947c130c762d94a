"""Streaming incremental owl:sameAs fusion — the non-distributive
streaming case: components MERGE ACROSS micro-batches, so previously
ingested triples must re-canonicalize.  Exactness gate: the fused view
after the stream equals batch ``same_as_fusion`` over the full input."""

import re

import pytest
from pyspark.sql import functions as F

from kgloom.ops.reasoning import OWL_SAMEAS, same_as_fusion
from kgloom.streaming import (
    fuse_batch,
    read_alias_map,
    read_fused,
    stream_fused_triples,
)
from kgloom.streaming.state import read_metrics

SAME = OWL_SAMEAS


def _df(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


BATCHES = [
    # b0: component {a,b}; data about a and the never-aliased u
    [("<e:a>", "<p:knows>", "<e:u>"), ("<e:u>", "<p:label>", '"u"'),
     ("<e:a>", SAME, "<e:b>")],
    # b1: disjoint component {c,d}; data about b (alias of a) and d
    [("<e:b>", "<p:knows>", "<e:c>"), ("<e:d>", "<p:label>", '"d"'),
     ("<e:c>", SAME, "<e:d>")],
    # b2: the cross-batch merge — joins {a,b} and {c,d} into one
    # component with canonical <e:a>; d's batch-1 data must re-point
    [("<e:d>", "<p:knows>", "<e:u>"), ("<e:b>", SAME, "<e:c>")],
]


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_fuse_batch_sequence_cross_batch_merge(spark, tmp_path):
    state = str(tmp_path / "state")
    for i, rows in enumerate(BATCHES):
        fuse_batch(spark, state, _df(spark, rows), i)

    full = _df(spark, [r for b in BATCHES for r in b])
    assert _rows(read_fused(spark, state)) == _rows(same_as_fusion(full))

    # batch-1 data (<e:d> <p:label> "d") was stored under d's then-
    # canonical component; after batch 2 it reads back under <e:a>
    got = _rows(read_fused(spark, state))
    assert ("<e:a>", "<p:label>", '"d"') in got
    assert not any(s == "<e:d>" or o == "<e:d>" for s, _, o in got)

    # final map: b, c, d all point at the global minimum a
    m = {r.node: r.canonical for r in read_alias_map(spark, state).collect()}
    assert m == {"<e:b>": "<e:a>", "<e:c>": "<e:a>", "<e:d>": "<e:a>"}

    # incremental metrics: batch 0 adds b->a; batch 1 adds d->c;
    # batch 2 adds c->a AND re-points d from c to a (the merge audit)
    metrics = {r.batch_id: r for r in
               read_metrics(spark, state).collect()}
    assert [metrics[i].n_changed for i in range(3)] == [1, 1, 2]
    assert [metrics[i].n_map for i in range(3)] == [1, 2, 3]


def test_fuse_batch_replay_idempotent(spark, tmp_path):
    state = str(tmp_path / "state")
    for i, rows in enumerate(BATCHES):
        fuse_batch(spark, state, _df(spark, rows), i)
    before = _rows(read_fused(spark, state))
    m_before = _rows(read_alias_map(spark, state))
    # replay the last micro-batch (failure-recovery path): the map is
    # recomputed from v=1, raw/v=2 is overwritten — state unchanged
    fuse_batch(spark, state, _df(spark, BATCHES[2]), 2)
    assert _rows(read_fused(spark, state)) == before
    assert _rows(read_alias_map(spark, state)) == m_before


def test_stream_fused_triples_equals_batch(spark, tmp_path):
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    for rows in BATCHES:
        _df(spark, rows).coalesce(1).write.mode("append").parquet(inp)
    q = stream_fused_triples(spark, inp, state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    full = _df(spark, [r for b in BATCHES for r in b])
    assert _rows(read_fused(spark, state)) == _rows(same_as_fusion(full))
    assert not read_fused(spark, state).where(
        F.col("pred") == SAME).count()


def test_read_fused_no_sameas_yet(spark, tmp_path):
    state = str(tmp_path / "state")
    only_data = [("<e:x>", "<p:label>", '"x"')]
    fuse_batch(spark, state, _df(spark, only_data), 0)
    assert _rows(read_fused(spark, state)) == sorted(map(tuple, only_data))


def test_read_fused_before_any_batch_raises(spark, tmp_path):
    state = str(tmp_path / "state")
    with pytest.raises(ValueError, match=re.escape(state)):
        read_fused(spark, state)


def test_compact_fused_snapshot(spark, tmp_path):
    state = str(tmp_path / "state")
    for i, rows in enumerate(BATCHES):
        fuse_batch(spark, state, _df(spark, rows), i)
    out = str(tmp_path / "snapshot")
    from kgloom.streaming import compact_fused
    compact_fused(spark, state, out)
    assert _rows(spark.read.parquet(out)) == _rows(read_fused(spark, state))
