"""The micro-batch runner and the parquet state of the streaming folds.

Every fold runs through :func:`start`: ``foreachBatch`` over the
stream with an ``availableNow`` trigger, which folds each micro-batch
of the input available at start and then stops.  A fold module keeps
only its recurrence, ``*_batch(spark, state_path, batch_df, batch_id,
…)``.

A fold keeps each of its state tables under ``{state_path}/{table}``
as one directory per micro-batch, ``v={batch_id}``, written by that
batch's trigger (:func:`commit`).  A table is one of two kinds:

- **versioned** — each version is the whole state after its batch,
  and a reader takes the newest (:func:`read_latest`);
- **append-only** — each version holds only its batch's rows, and a
  reader takes the union of all of them (:func:`read_all`).

A version is visible only once Spark's ``_SUCCESS`` marker exists, so
a trigger that dies mid-write is recomputed on replay from the
complete versions strictly older than its batch id: every fold is
deterministic in (state before batch_id, batch contents) and therefore
retry-idempotent under Structured Streaming's replay contract.

A trigger launches only the Spark jobs of its state writes.  The
counts in its metrics row cost no job of their own: batch-side counts
are observed inside a state write (:func:`observe`), state row counts
come from the written parquet footers (:func:`commit`), and the row
itself (``metrics/batch={batch_id}``) is written with pyarrow.
"""

from __future__ import annotations

import glob
import os
import shutil
from typing import Callable, Optional

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..tables import footer_counts


def _complete(state_path: str, table: str,
              before: Optional[int] = None) -> list[str]:
    """The directories of the complete versions of ``table`` (<
    ``before`` if given), oldest first.  Listing uses the local
    filesystem; DFS-resident state needs only this listing swapped to
    the Hadoop FileSystem API — the layout itself is
    filesystem-agnostic."""
    out = []
    for d in glob.glob(os.path.join(state_path, table, "v=*")):
        try:
            v = int(os.path.basename(d).split("=", 1)[1])
        except ValueError:
            continue
        if os.path.exists(os.path.join(d, "_SUCCESS")) and \
                (before is None or v < before):
            out.append((v, d))
    return [d for _, d in sorted(out)]


def keyed_ddl(keys: list[str], rest: str) -> str:
    """The DDL of a table keyed by string columns ``keys``, followed by
    the columns ``rest``."""
    return ", ".join(f"{k} string" for k in keys) + ", " + rest


def read_latest(spark: SparkSession, state_path: str, table: str,
                ddl: str, before: Optional[int] = None
                ) -> Optional[DataFrame]:
    """The newest complete version of a versioned ``table`` (<
    ``before`` if given), or None before its first write."""
    paths = _complete(state_path, table, before)
    return spark.read.schema(ddl).parquet(paths[-1]) if paths else None


def read_all(spark: SparkSession, state_path: str, table: str, ddl: str,
             before: Optional[int] = None) -> Optional[DataFrame]:
    """The union of every complete version of an append-only ``table``
    (< ``before`` if given), or None before its first write."""
    paths = _complete(state_path, table, before)
    return spark.read.schema(ddl).parquet(*paths) if paths else None


def start(stream_df: DataFrame, checkpoint_path: str,
          fold_batch: Callable[[DataFrame, int], None]) -> StreamingQuery:
    """Run ``fold_batch(batch_df, batch_id)`` on each micro-batch of
    ``stream_df`` until the input available at start is consumed,
    with progress checkpointed under ``checkpoint_path``."""
    return (stream_df.writeStream.foreachBatch(fold_batch)
            .option("checkpointLocation", checkpoint_path)
            .trigger(availableNow=True).start())


def commit(df: DataFrame, state_path: str, table: str,
           batch_id: int) -> int:
    """Write ``df`` as version ``batch_id`` of ``table``, replacing a
    replayed batch's earlier attempt; returns the version's row count,
    read from the parquet footers."""
    path = os.path.join(state_path, table, f"v={batch_id}")
    df.write.mode("overwrite").parquet(path)
    return sum(footer_counts(path).values())


def observe(df: DataFrame, **metrics: Column
            ) -> tuple[DataFrame, Callable[[], dict]]:
    """``df`` with ``metrics`` (name → aggregate) computed over its rows
    by whichever action first runs it, and a function returning them
    once that action has finished.

    Spark completes an observation without a row when the optimizer or
    AQE removed the observed node (an empty input, a constant-false
    filter above it); PySpark's ``Observation.get`` then raises, and the
    metrics are computed by a job of their own instead."""
    aggs = [m.alias(name) for name, m in metrics.items()]
    obs = Observation()

    def result() -> dict:
        try:
            return obs.get
        except Py4JJavaError:
            return df.agg(*aggs).first().asDict()
    return df.observe(obs, *aggs), result


def write_metrics(state_path: str, batch_id: int, **counts: int) -> None:
    """The fold's one metrics row for ``batch_id``: ``(batch_id,
    *counts)`` as longs under ``metrics/batch={batch_id}``.  A replayed
    batch replaces its row; the part file appears by rename, so a
    reader never sees it half-written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(state_path, "metrics", f"batch={batch_id}")
    if os.path.isdir(d):
        shutil.rmtree(d)
    os.makedirs(d)
    row = {"batch_id": batch_id, **counts}
    # a leading dot hides the file from Spark's reader until renamed
    tmp = os.path.join(d, ".part-00000.parquet")
    pq.write_table(pa.table({k: pa.array([v], pa.int64())
                             for k, v in row.items()}), tmp)
    os.replace(tmp, os.path.join(d, "part-00000.parquet"))


def read_metrics(spark: SparkSession, state_path: str) -> DataFrame:
    """Every batch's metrics row, plus the ``batch`` partition column."""
    return spark.read.parquet(os.path.join(state_path, "metrics"))
