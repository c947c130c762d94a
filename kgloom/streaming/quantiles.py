"""Streaming incremental quantile sketching: the mergeable KLL-style
summary (:mod:`kgloom.ops.sketch`) folded over a micro-batch stream.

The recurrence is the same IVM shape as the incremental sameAs fusion
(:mod:`kgloom.streaming.fusion`)::

    cent_k = Merge(cent_{k-1}  UNION  Sketch(batch_k))

Per-trigger cost is O(|batch| + k·groups) — the carried state is the
merged centroid table, ≤ ``k`` rows per group FOREVER, however much
history has streamed through.  That bounded-state property is exactly
what makes a quantile monitor viable on an unbounded 10^12-turn
stream: a per-group p99 of (say) turn length is always one
``read_quantiles`` away, no history rescan.

State is versioned parquet (``cent/v={batch_id}``) kept by
:mod:`kgloom.streaming.state`: ``sketch_batch`` is deterministic in
(state up to batch_id-1, batch contents) and therefore retry-
idempotent under Structured Streaming's replay contract.

Accuracy: each fold is one more :func:`kll_merge` compaction, so the
rank error grows with the number of folds in the worst case but stays
bounded by the per-merge bucket weight (~n/k); the stream-vs-batch
bound is pinned in ``tests/test_streaming.py``.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops.sketch import kll_extract, kll_merge, kll_sketch
from . import state

_CENT_DDL = "bucket int, cnt bigint, vsum bigint, lo bigint, hi bigint, " \
    "avg double"


def read_centroids(spark: SparkSession, state_path: str, keys: list[str],
                   before: Optional[int] = None) -> Optional[DataFrame]:
    """The newest complete centroid version (< ``before`` if given),
    or None before the first batch."""
    return state.read_latest(spark, state_path, "cent",
                             state.keyed_ddl(keys, _CENT_DDL), before)


def sketch_batch(spark: SparkSession, state_path: str,
                 batch_df: DataFrame, batch_id: int, keys: list[str],
                 value: str, k: int = 64, n_salts: int = 8) -> None:
    """Fold one micro-batch into the centroid state:
    ``cent_k = Merge(cent_{k-1} ∪ Sketch(batch_k))``."""
    batch_df, observed = state.observe(batch_df, n=F.count(F.lit(1)))
    batch_cent = kll_merge(
        kll_sketch(batch_df, keys, value, k=k, n_salts=n_salts), keys, k=k)
    prev = read_centroids(spark, state_path, keys, before=batch_id)
    bag = batch_cent.select(*keys, "cnt", "vsum", "lo", "hi")
    if prev is not None:
        bag = bag.unionByName(prev.select(*keys, "cnt", "vsum", "lo", "hi"))
    new_cent, total = state.observe(kll_merge(bag, keys, k=k),
                                    n=F.sum("cnt"))
    n_cent = state.commit(new_cent, state_path, "cent", batch_id)
    state.write_metrics(state_path, batch_id, n_rows=observed()["n"],
                        n_centroids=n_cent, n_total=total()["n"] or 0)


def stream_kll(spark: SparkSession, stream_df: DataFrame, state_path: str,
               checkpoint_path: str, keys: list[str], value: str,
               k: int = 64, n_salts: int = 8):
    """Fold a streaming DataFrame into incremental quantile state;
    read results any time with :func:`read_quantiles`."""
    return state.start(stream_df, checkpoint_path, lambda df, i: (
        sketch_batch(spark, state_path, df, i, keys, value, k=k,
                     n_salts=n_salts)))


def read_quantiles(spark: SparkSession, state_path: str, keys: list[str],
                   qs: list[float]) -> DataFrame:
    """Quantile estimates off the latest centroid state — O(k·groups),
    never touches history."""
    cent = read_centroids(spark, state_path, keys)
    if cent is None:
        raise ValueError(f"no complete centroid state under {state_path}")
    return kll_extract(cent, keys, qs)
