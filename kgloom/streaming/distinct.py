"""Streaming incremental KMV distinct-count monitoring.

The KMV synopsis (k smallest distinct hash fractions per group,
:func:`kgloom.ops.sketch.kmv_minima`) is EXACTLY mergeable — the k
smallest of a union are among the union of each side's k smallest —
so the micro-batch fold::

    min_k = TopK(distinct(min_{k-1} ∪ Minima(batch_k)))

yields a synopsis, and therefore an estimate, BIT-IDENTICAL to batch
``kmv_distinct`` over everything streamed so far (pinned stream ==
batch in tests) — stronger than the streaming KLL fold, whose error
grows with fold count.  State is ≤ k rows per group FOREVER; the
per-trigger window runs over ≤ 2k rows per group.

Use: per-predicate distinct-object monitoring of a triple stream
(vocabulary growth, join-cardinality estimation feed), distinct-user
monitoring of an event stream — any unbounded stream whose distinct
count must be queryable at any moment without a history rescan.

State is versioned parquet (``minima/v={batch_id}``) kept by
:mod:`kgloom.streaming.state`: deterministic in (state before
batch_id, batch contents), so retry-idempotent under Structured
Streaming's replay contract.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..ops.sketch import kmv_estimate, kmv_minima
from . import state


def read_minima(spark: SparkSession, state_path: str, keys: list[str],
                before: Optional[int] = None) -> Optional[DataFrame]:
    return state.read_latest(spark, state_path, "minima",
                             state.keyed_ddl(keys, "__f double"), before)


def fold_minima(prev: Optional[DataFrame], batch_df: DataFrame,
                keys: list[str], value: str, k: int = 64) -> DataFrame:
    """One fold of the recurrence — min_k = TopK(distinct(prev ∪
    Minima(batch))).  Pure DataFrame-in/DataFrame-out so batch replays
    (e.g. the oracle-gated entry query) can drive the exact streaming
    fold without parquet state."""
    bag = kmv_minima(batch_df, keys, value, k=k)
    if prev is not None:
        bag = bag.unionByName(prev)
    # the same value can arrive in many batches: its hash fraction is
    # identical, so a distinct restores set semantics before the top-k
    w = Window.partitionBy(*keys).orderBy("__f")
    return (bag.distinct()
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k).drop("__rn"))


def distinct_batch(spark: SparkSession, state_path: str,
                   batch_df: DataFrame, batch_id: int, keys: list[str],
                   value: str, k: int = 64) -> None:
    """Fold one micro-batch into the minima state."""
    batch_df, observed = state.observe(batch_df, n=F.count(F.lit(1)))
    prev = read_minima(spark, state_path, keys, before=batch_id)
    n_state = state.commit(fold_minima(prev, batch_df, keys, value, k=k),
                           state_path, "minima", batch_id)
    state.write_metrics(state_path, batch_id,
                        n_batch_rows=observed()["n"], n_state_rows=n_state)


def stream_kmv_distinct(spark: SparkSession, stream_df: DataFrame,
                        state_path: str, checkpoint_path: str,
                        keys: list[str], value: str, k: int = 64):
    """Fold a streaming DataFrame into KMV minima state; read the
    current estimates any time with :func:`read_distinct`."""
    return state.start(stream_df, checkpoint_path, lambda df, i: (
        distinct_batch(spark, state_path, df, i, keys, value, k=k)))


def read_distinct(spark: SparkSession, state_path: str, keys: list[str],
                  k: int = 64) -> DataFrame:
    """Current distinct-count estimates off the latest minima state —
    O(k·groups), never touches history."""
    minima = read_minima(spark, state_path, keys)
    if minima is None:
        raise ValueError(f"no complete minima state under {state_path}")
    return kmv_estimate(minima, keys, k=k)
