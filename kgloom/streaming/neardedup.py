"""Streaming incremental near-duplicate gating (MinHash-LSH).

The corpus-ingest gate: documents arrive as micro-batches and each
must be admitted or rejected AGAINST EVERYTHING ALREADY ADMITTED
without rescanning history.  Exact near-dup pairing distributes over
time because LSH membership is per-document: a document collides with
history iff one of its (band, band_key) cells collides, so the state
is the append-only band-cell store::

    cells_k  = cells_{k-1} ∪ Bands(batch_k)
    dup(d)   = Bands(d) ∩ cells_{k-1} ≠ ∅         (history hit)
               ∨ ∃ d' ∈ batch_k, d' < d sharing a cell (intra-batch)

With arrival order consistent with doc_id order this reproduces the
batch rule exactly — :func:`kgloom.ops.dedup.minhash_lsh_pairs`'s
drop-the-larger-id-of-every-pair — regardless of batch boundaries
(pinned stream == batch in tests).  With out-of-order arrival the
semantics become first-arrival-wins, which is what an ingest gate
means operationally.

State is two append-only parquet tables (``bands/`` and ``flags/``,
one ``v={batch_id}`` version per batch) kept by
:mod:`kgloom.streaming.state`: deterministic in (state before
batch_id, batch contents), so retry-idempotent under Structured
Streaming's replay contract.  State size is O(bands × documents
seen) — rows of three short strings; the per-trigger work is one join
of the batch's cells against the store (shuffle on band_key; a real
deployment bucket-sorts the store by band_key so the join prunes).

The per-batch band-bucket skew cap (``max_band_bucket``) of the batch
operator applies WITHIN each batch here; the historical join is
uncapped (a hot cell in history is one row per past doc and the join
fans out only for colliding batch docs).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops.dedup import lsh_bands
from . import state

_BANDS_DDL = "doc_id string, band int, band_key string"
_FLAGS_DDL = "doc_id string, is_dup boolean, via_history boolean"


def read_bands(spark: SparkSession, state_path: str,
               before: Optional[int] = None) -> Optional[DataFrame]:
    return state.read_all(spark, state_path, "bands", _BANDS_DDL, before)


def flag_against(history: Optional[DataFrame], batch_docs: DataFrame,
                 num_hashes: int = 8, band_size: int = 2,
                 n: int = 3) -> tuple[DataFrame, DataFrame]:
    """Pure fold step: returns (flags, bands) for one batch against a
    band-cell history (DataFrame-in/DataFrame-out so batch replays can
    drive the exact streaming recurrence without parquet state)."""
    bands = lsh_bands(batch_docs, num_hashes, band_size, n).withColumn(
        "doc_id", F.col("doc_id").cast("string"))
    if history is not None:
        hist_hits = (bands.join(
            history.select("band", "band_key").distinct(),
            ["band", "band_key"])
            .select("doc_id").distinct()
            .withColumn("via_history", F.lit(True)))
    else:
        hist_hits = None
    a, b = bands.alias("a"), bands.alias("b")
    intra = (a.join(b, ["band", "band_key"])
             .where(F.col("a.doc_id") > F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("doc_id")).distinct()
             .withColumn("via_history", F.lit(False)))
    hits = intra if hist_hits is None else \
        hist_hits.unionByName(intra)
    # a doc can hit both ways; history wins the attribution (any True)
    hits = hits.groupBy("doc_id").agg(
        F.max("via_history").alias("via_history"))
    flags = (batch_docs.select(F.col("doc_id").cast("string")
                               .alias("doc_id"))
             .join(hits, "doc_id", "left")
             .select("doc_id",
                     F.col("via_history").isNotNull().alias("is_dup"),
                     F.coalesce("via_history", F.lit(False))
                     .alias("via_history")))
    return flags, bands


def dedup_batch(spark: SparkSession, state_path: str,
                batch_docs: DataFrame, batch_id: int,
                num_hashes: int = 8, band_size: int = 2,
                n: int = 3) -> None:
    """Fold one micro-batch: write its admission flags and append its
    band cells to the store."""
    history = read_bands(spark, state_path, before=batch_id)
    flags, bands = flag_against(history, batch_docs,
                                num_hashes, band_size, n)
    state.commit(flags, state_path, "flags", batch_id)
    state.commit(bands, state_path, "bands", batch_id)


def stream_near_dedup(spark: SparkSession, stream_docs: DataFrame,
                      state_path: str, checkpoint_path: str,
                      num_hashes: int = 8, band_size: int = 2,
                      n: int = 3):
    """Run the ingest gate over a streaming (doc_id, text) DataFrame;
    read per-document admissions any time with :func:`read_flags`."""
    return state.start(stream_docs, checkpoint_path, lambda df, i: (
        dedup_batch(spark, state_path, df, i, num_hashes, band_size, n)))


def read_flags(spark: SparkSession, state_path: str) -> DataFrame:
    flags = state.read_all(spark, state_path, "flags", _FLAGS_DDL)
    if flags is None:
        raise FileNotFoundError(f"no flags under {state_path!r}")
    return flags
