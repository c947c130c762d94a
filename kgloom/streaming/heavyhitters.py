"""Streaming incremental heavy-hitter monitoring: a Misra-Gries
summary folded over a micro-batch stream with bounded state.

MG summaries are MERGEABLE (Misra & Gries 1982; Agarwal et al. 2013
"Mergeable Summaries", both public methods): summing two summaries'
counters and re-compressing to ``m`` counters (subtract the (m+1)-th
largest, drop non-positives) preserves the frequent-items guarantee.
The micro-batch fold::

    summ_k = Compress_m(summ_{k-1} ⊎ ExactCounts(batch_k))

therefore maintains, FOREVER and in ≤ m rows per group:

- soundness: every value with true count > N_g/(m+1) is present;
- counter ≤ true count ≤ counter + err, with the per-group bound
  ``err = (N_g − Σ counters)/(m+1)`` (each compression decrement event
  consumes m+1 units of weight).

Unlike the KMV/KLL siblings the reported counts are lower bounds, not
exact — the monitor answers "what is hot right now and how hot at
least" on an unbounded stream without any history rescan.  When the
history IS available (the oracle-gated entry query), an exact
verify pass over the summary's candidate set turns the answer exact —
the same prune-then-verify shape as :func:`kgloom.ops.sketch.
heavy_hitters`, with the fold replacing the per-partition pass.

State is versioned parquet (``summ/v={batch_id}`` and group totals
``tot/v={batch_id}``) kept by :mod:`kgloom.streaming.state` —
deterministic in (state before batch_id, batch contents), so
retry-idempotent under Structured Streaming's replay contract.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import state


def mg_compress(counters: DataFrame, keys: list[str], value: str,
                m: int) -> DataFrame:
    """Compress a per-group counter table to ≤ ``m`` counters: subtract
    the (m+1)-th largest counter from all and drop non-positives — the
    mergeable-summaries MG reduction.  Deterministic: ties rank by
    ``(cnt desc, value)`` but the subtracted amount depends only on
    the multiset of counts, so the surviving SET is order-free."""
    w = Window.partitionBy(*keys).orderBy(F.desc("cnt"), value)
    ranked = counters.withColumn("__rk", F.row_number().over(w))
    d = (ranked.where(F.col("__rk") == m + 1)
         .select(*keys, F.col("cnt").alias("__d")))
    return (ranked.join(d, on=list(keys), how="left")
            .withColumn("cnt", F.col("cnt") - F.coalesce("__d", F.lit(0)))
            .where(F.col("cnt") > 0)
            .drop("__rk", "__d"))


def fold_summary(prev: Optional[DataFrame], batch_df: DataFrame,
                 keys: list[str], value: str, m: int = 64) -> DataFrame:
    """One fold of the recurrence — exact batch counts merged into the
    carried summary, then compressed back to ≤ m counters per group.
    Pure DataFrame-in/DataFrame-out (the entry query replays it in
    batch)."""
    counts = (batch_df.where(F.col(value).isNotNull())
              .groupBy(*keys, value)
              .agg(F.count(F.lit(1)).alias("cnt")))
    if prev is not None:
        counts = (counts.unionByName(prev)
                  .groupBy(*keys, value)
                  .agg(F.sum("cnt").alias("cnt")))
    return mg_compress(counts, keys, value, m)


def read_summary(spark: SparkSession, state_path: str, keys: list[str],
                 value: str,
                 before: Optional[int] = None) -> Optional[DataFrame]:
    return state.read_latest(spark, state_path, "summ", state.keyed_ddl(
        keys, f"{value} string, cnt bigint"), before)


def _read_totals(spark: SparkSession, state_path: str, keys: list[str],
                 before: Optional[int] = None) -> Optional[DataFrame]:
    return state.read_latest(spark, state_path, "tot",
                             state.keyed_ddl(keys, "n_total bigint"), before)


def heavy_batch(spark: SparkSession, state_path: str,
                batch_df: DataFrame, batch_id: int, keys: list[str],
                value: str, m: int = 64) -> None:
    """Fold one micro-batch into the summary + totals state."""
    prev = read_summary(spark, state_path, keys, value, before=batch_id)
    state.commit(fold_summary(prev, batch_df, keys, value, m=m),
                 state_path, "summ", batch_id)
    # null values never enter the summary, so they are excluded from
    # the totals too — keeps the err bound tight and the guarantee
    # threshold (> n_total/(m+1)) consistent with what was inserted
    tot = (batch_df.where(F.col(value).isNotNull())
           .groupBy(*keys).agg(F.count(F.lit(1)).alias("n_total")))
    ptot = _read_totals(spark, state_path, keys, before=batch_id)
    if ptot is not None:
        tot = (tot.unionByName(ptot).groupBy(*keys)
               .agg(F.sum("n_total").alias("n_total")))
    state.commit(tot, state_path, "tot", batch_id)


def stream_mg_heavy(spark: SparkSession, stream_df: DataFrame,
                    state_path: str, checkpoint_path: str,
                    keys: list[str], value: str, m: int = 64):
    """Fold a streaming DataFrame into MG heavy-hitter state; read the
    current counters + error bounds any time with :func:`read_heavy`."""
    return state.start(stream_df, checkpoint_path, lambda df, i: (
        heavy_batch(spark, state_path, df, i, keys, value, m=m)))


def read_heavy(spark: SparkSession, state_path: str, keys: list[str],
               value: str, m: int = 64) -> DataFrame:
    """Current summary with its accuracy contract: ``(keys…, value,
    cnt, n_total, err)`` where ``cnt ≤ true ≤ cnt + err`` and every
    value with true count > n_total/(m+1) is guaranteed present.
    O(m·groups) — never touches history."""
    summ = read_summary(spark, state_path, keys, value)
    if summ is None:
        raise ValueError(f"no complete summary state under {state_path}")
    tot = _read_totals(spark, state_path, keys)
    kept = summ.groupBy(*keys).agg(F.sum("cnt").alias("__kept"))
    return (summ.join(tot, on=list(keys))
            .join(kept, on=list(keys))
            .withColumn("err", F.floor(
                (F.col("n_total") - F.col("__kept")) / (m + 1)))
            .drop("__kept"))
