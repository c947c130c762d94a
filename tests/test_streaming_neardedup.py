"""Streaming incremental near-dedup ingest gate
(kgloom/streaming/neardedup.py): stream == batch drop rule, retry
idempotency, incomplete versions, and the foreachBatch plumbing."""

import os

import pytest
from pyspark.sql import functions as F

from kgloom.ops.dedup import minhash_lsh_pairs
from kgloom.streaming.neardedup import (dedup_batch, flag_against,
                                        read_bands, read_flags,
                                        stream_near_dedup)

BASE = "the quick brown fox jumps over the lazy dog again and again"
BATCHES = [
    [("d01", BASE),
     ("d02", "completely different text about spark shuffles here")],
    [("d03", BASE + " tail"),        # near-dup of d01 (earlier batch)
     ("d04", "another unrelated document with its own words"),
     ("d05", BASE + " tail")],       # near-dup of d03 (same batch)
    [("d06", "completely different text about spark shuffles here"),
     ("d07", "fresh content never seen before in any batch")],
]


def _all_docs(spark):
    rows = [r for b in BATCHES for r in b]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_stream_fold_equals_batch_rule(spark, tmp_path):
    state = str(tmp_path / "st")
    for i, batch in enumerate(BATCHES):
        dedup_batch(spark, state,
                    spark.createDataFrame(batch, ["doc_id", "text"]), i)
    got = {r.doc_id: (r.is_dup, r.via_history)
           for r in read_flags(spark, state).collect()}
    # batch twin: drop the larger doc_id of every LSH pair
    pairs = minhash_lsh_pairs(_all_docs(spark),
                              max_band_bucket=None).collect()
    want_dropped = {p.doc_b for p in pairs}
    assert {d for d, (dup, _) in got.items() if dup} == want_dropped
    assert len(got) == 7
    # attribution: d03 collided with history (d01), d05 within batch
    # (d03 arrived in the same batch and sorts smaller), d06 with
    # history (d02)
    assert got["d03"] == (True, True)
    assert got["d05"][0] is True
    assert got["d06"] == (True, True)
    assert got["d01"] == (False, False)
    assert got["d07"] == (False, False)


def test_batch_retry_is_idempotent(spark, tmp_path):
    state = str(tmp_path / "st")
    for i, batch in enumerate(BATCHES[:2]):
        dedup_batch(spark, state,
                    spark.createDataFrame(batch, ["doc_id", "text"]), i)
    before = sorted(map(tuple, read_flags(spark, state).collect()))
    # Structured Streaming may replay a batch after a crash: refolding
    # batch 1 must reproduce the identical state and flags
    dedup_batch(spark, state,
                spark.createDataFrame(BATCHES[1], ["doc_id", "text"]), 1)
    after = sorted(map(tuple, read_flags(spark, state).collect()))
    assert before == after
    assert read_bands(spark, state).count() == \
        read_bands(spark, state).distinct().count()


def test_incomplete_version_is_invisible(spark, tmp_path):
    """A bands or flags version without Spark's ``_SUCCESS`` marker (a
    trigger that died mid-write) is seen by neither reader nor by the
    next trigger's history; replaying its batch repairs it."""
    state = str(tmp_path / "st")

    def fold(rows, i):
        dedup_batch(spark, state,
                    spark.createDataFrame(rows, ["doc_id", "text"]), i)
    for i, batch in enumerate(BATCHES[:2]):
        fold(batch, i)
    for table in ("bands", "flags"):
        os.remove(os.path.join(state, table, "v=1", "_SUCCESS"))
    assert sorted(map(tuple, read_bands(spark, state).collect())) == \
        sorted(map(tuple, read_bands(spark, state, before=1).collect()))
    assert {r.doc_id for r in read_flags(spark, state).collect()} == \
        {"d01", "d02"}

    # d08 repeats d04 (batch 1, unseen), d09 repeats d02 (batch 0)
    late = [("d08", BATCHES[1][1][1]), ("d09", BATCHES[0][1][1])]
    fold(late, 2)
    flags = {r.doc_id: (r.is_dup, r.via_history)
             for r in read_flags(spark, state).collect()}
    assert set(flags) == {"d01", "d02", "d08", "d09"}
    assert flags["d08"] == (False, False)
    assert flags["d09"] == (True, True)

    fold(BATCHES[1], 1)
    fold(late, 2)
    flags = {r.doc_id: (r.is_dup, r.via_history)
             for r in read_flags(spark, state).collect()}
    assert len(flags) == 7
    assert flags["d08"] == (True, True)


def test_stream_near_dedup_plumbing(spark, tmp_path):
    inp = str(tmp_path / "in")
    df = _all_docs(spark)
    df.coalesce(1).write.mode("overwrite").parquet(inp)
    stream = (spark.readStream.schema("doc_id string, text string")
              .parquet(inp))
    q = stream_near_dedup(spark, stream, str(tmp_path / "st2"),
                          str(tmp_path / "ck"))
    q.awaitTermination(120)
    flags = read_flags(spark, str(tmp_path / "st2"))
    assert flags.count() == 7
    # one batch = everything intra; the drop SET still matches batch
    pairs = minhash_lsh_pairs(df, max_band_bucket=None).collect()
    want = {p.doc_b for p in pairs}
    got = {r.doc_id for r in flags.where("is_dup").collect()}
    assert got == want
