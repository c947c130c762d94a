"""Streaming incremental table profiling: catalog statistics
(row/null counts, distinct estimates, dominant values) maintained
over an unbounded stream with bounded state.

Composes the three mergeable folds this package already pins:

- exact counters  — ``counts_k = counts_{k-1} + Counts(batch_k)``
  (associative integer addition; exact forever);
- KMV minima      — :func:`kgloom.streaming.distinct.fold_minima`
  (BIT-identical to batch ``kmv_distinct`` over everything streamed);
- MG summaries    — :func:`kgloom.streaming.heavyhitters.heavy_batch`
  (every value with count > N/(m+1) present; ``cnt ≤ true ≤ cnt+err``).

The last two are those modules' own folds and readers, keyed by the
column name ``c``.

The batch is MELTED to long form (column-name, value-as-string) once
per trigger, so every per-column statistic is one grouped pass and
adding columns adds rows, not jobs — the same shape as the batch
:func:`kgloom.ops.sketch.table_profile`.

``read_profile`` returns ``(column, n_rows, n_nulls, distinct_est,
top_value, top_cnt, top_err)``: counts exact, ``distinct_est``
bit-identical to batch KMV (pinned stream==batch in tests), and the
top value the MG winner with its lower bound + error — the honest
streaming substitute for the batch profile's exact verify pass, which
would need a history rescan.

State is four versioned parquet tables (``cnt/ minima/ summ/ tot/``
under ``v={batch_id}``) kept by :mod:`kgloom.streaming.state`,
deterministic in (prior state, batch) → retry-idempotent under
Structured Streaming's replay contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..ops.sketch import kmv_estimate
from . import state
from .distinct import fold_minima, read_minima
from .heavyhitters import heavy_batch, read_heavy

_CNT_DDL = "c string, n_rows bigint, n_nulls bigint"


def _melt(batch_df: DataFrame, cols: list[str]) -> DataFrame:
    pairs = F.explode(F.array(*[
        F.struct(F.lit(c).alias("c"),
                 F.col(c).cast("string").alias("v"))
        for c in cols])).alias("p")
    return batch_df.select(pairs).select("p.c", "p.v")


def profile_batch(spark: SparkSession, state_path: str,
                  batch_df: DataFrame, batch_id: int, cols: list[str],
                  k: int = 64, m: int = 64) -> None:
    """Fold one micro-batch into all four state tables."""
    melted = _melt(batch_df, cols).localCheckpoint()
    nn = melted.where(F.col("v").isNotNull())

    cnt = melted.groupBy("c").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
         .alias("n_nulls"))
    pcnt = state.read_latest(spark, state_path, "cnt", _CNT_DDL,
                             before=batch_id)
    if pcnt is not None:
        cnt = (cnt.unionByName(pcnt).groupBy("c")
               .agg(F.sum("n_rows").alias("n_rows"),
                    F.sum("n_nulls").alias("n_nulls")))
    state.commit(cnt, state_path, "cnt", batch_id)

    pmin = read_minima(spark, state_path, ["c"], before=batch_id)
    state.commit(fold_minima(pmin, nn, ["c"], "v", k=k), state_path,
                 "minima", batch_id)
    heavy_batch(spark, state_path, nn, batch_id, ["c"], "v", m=m)


def stream_profile(spark: SparkSession, stream_df: DataFrame,
                   state_path: str, checkpoint_path: str,
                   cols: list[str], k: int = 64, m: int = 64):
    """Fold a streaming DataFrame into profile state; read the current
    statistics any time with :func:`read_profile`."""
    return state.start(stream_df, checkpoint_path, lambda df, i: (
        profile_batch(spark, state_path, df, i, cols, k=k, m=m)))


def read_profile(spark: SparkSession, state_path: str, k: int = 64,
                 m: int = 64) -> DataFrame:
    """Current per-column statistics off the latest state —
    O(k·columns + m·columns), never touches history."""
    cnt = state.read_latest(spark, state_path, "cnt", _CNT_DDL)
    if cnt is None:
        raise ValueError(f"no complete profile state under {state_path}")
    dist = kmv_estimate(read_minima(spark, state_path, ["c"]), ["c"], k=k)
    w = Window.partitionBy("c").orderBy(F.desc("cnt"), "v")
    top = (read_heavy(spark, state_path, ["c"], "v", m=m)
           .withColumn("__rk", F.row_number().over(w))
           .where(F.col("__rk") == 1))
    return (cnt.join(dist, "c", "left").join(top, "c", "left")
            .select(F.col("c").alias("column"), "n_rows", "n_nulls",
                    F.col("estimate").alias("distinct_est"),
                    F.col("v").alias("top_value"),
                    F.col("cnt").alias("top_cnt"),
                    F.col("err").alias("top_err")))
