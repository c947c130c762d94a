"""Streaming KG construction over transcript turns.

- ``stream_turn_triples``  — readStream → the SAME Extend/Serializer
  column expressions as the batch plan (kgloom.transcripts.pipeline
  turn_triples_plan) → watermarked dedup → append sink.  RDF set
  semantics under late data via ``dropDuplicatesWithinWatermark``.
- ``stream_mention_window_counts`` — watermark + sliding-window
  aggregation of entity mentions (late rows folded into their window
  until the watermark passes).
- ``stream_session_state`` — custom stateful operator via
  ``applyInPandasWithState``: per-conversation running session state
  (turn count, last role, last ts) with idle-timeout emission.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..transcripts.mentions import MENTION_PATTERN, normalize_surface
from .state import start

TRANSCRIPT_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("role", StringType()),
    StructField("text", StringType()),
    StructField("tool", StringType()),
    StructField("ts", TimestampType()),
])

KG = "http://kg.example/"


def read_transcript_stream(spark: SparkSession, input_path: str,
                           max_files_per_trigger: int = 8) -> DataFrame:
    return (spark.readStream
            .schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(input_path))


def _turn_triple_columns(turns: DataFrame) -> DataFrame:
    """Bind the batch plan's Extend+Serializer operators on a (possibly
    streaming) DataFrame with the binder's own code, so batch and
    streaming share term construction exactly."""
    from ..algebra import ExtendOp, SerializerOp
    from ..exec.binder import SparkBinder, bind_extend
    from ..transcripts.pipeline import turn_triples_plan

    ops = [n.operator for n in turn_triples_plan().graph.nodes.values()]
    extend_op = next(op for op in ops if isinstance(op, ExtendOp))
    serializer = next(op for op in ops if isinstance(op, SerializerOp))
    return SparkBinder(turns.sparkSession)._bind_serializer(
        serializer, bind_extend(turns, extend_op))


def stream_turn_triples(spark: SparkSession, input_path: str,
                        output_path: str, checkpoint_path: str,
                        watermark: str = "10 minutes"):
    """File-source stream of turns → (subj, pred, obj, graph) triples,
    deduplicated within the watermark, appended to parquet."""
    turns = read_transcript_stream(spark, input_path)
    triples = _turn_triple_columns(
        turns.select("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    # one watermark, on processing time, scoping the dedup state
    triples = triples.withColumn("ts", F.current_timestamp()) \
        .withWatermark("ts", watermark) \
        .dropDuplicatesWithinWatermark(["subj", "pred", "obj"]) \
        .drop("ts")
    return (triples.writeStream
            .format("parquet")
            .option("path", output_path)
            .option("checkpointLocation", checkpoint_path)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def stream_mention_window_counts(turns: DataFrame,
                                 window: str = "5 minutes",
                                 slide: Optional[str] = None,
                                 watermark: str = "10 minutes") -> DataFrame:
    """Watermarked sliding-window counts of entity mentions."""
    mentions = (turns.withWatermark("ts", watermark)
                .select("ts", F.explode(
                    F.regexp_extract_all("text", F.lit(MENTION_PATTERN), 0))
                    .alias("surface"))
                .withColumn("entity", normalize_surface(F.col("surface"))))
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (mentions.groupBy(win.alias("w"), "entity")
            .agg(F.count("*").alias("n_mentions"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "entity", "n_mentions"))


def stream_session_windows(turns: DataFrame, gap: str = "6 hours",
                           watermark: str = "1 day") -> DataFrame:
    """Event-time sessionization with the native ``session_window``
    aggregation: per (conv_id, session) turn counts and bounds, the
    streaming twin of :func:`kgloom.transcripts.training.session_summary`.

    Sessions merge while each turn arrives strictly within ``gap`` of
    the previous one; the emitted ``session_end`` is Spark's
    ``last_ts + gap`` convention.  Boundary note vs the batch LAG
    formulation: a turn at EXACTLY ``gap`` after its predecessor stays
    in the same session there (strict ``>`` test) but opens a new one
    here (windows merge only on strict overlap) — indistinguishable on
    continuous timestamps, documented for the exact-boundary case.

    Works on both batch and streaming inputs (the watermark is applied
    only when streaming); in append mode a session emits once the
    watermark passes its close — exactly-once per session with state
    bounded by ``watermark``, the right shape for an unbounded
    transcript feed."""
    src = turns
    if turns.isStreaming:
        src = turns.withWatermark("ts", watermark)
    return (src.groupBy("conv_id", F.session_window("ts", gap).alias("w"))
            .agg(F.count(F.lit(1)).alias("n_turns"),
                 F.count("tool").alias("n_tool_turns"))
            .select("conv_id",
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_turns", "n_tool_turns"))


def stream_tool_attribution(turns: DataFrame,
                            max_gap: str = "10 minutes",
                            watermark: str = "1 hour") -> DataFrame:
    """Stream-STREAM event-time interval join: every tool turn joined
    to each candidate triggering assistant turn — same conversation,
    tool timestamp in ``(assistant_ts, assistant_ts + max_gap]``.
    The remaining core Structured Streaming pattern next to the
    windowed/stateful ops: BOTH sides watermarked and the join range
    bounded by the interval condition, so each side's buffered state
    is O(watermark · arrival rate) and rows are dropped exactly when
    the watermark passes their joinable horizon — the shape that runs
    unbounded on a 10^12-turn feed.

    Works on batch and streaming inputs alike (watermarks applied
    only when streaming), so the stream==batch equivalence is
    testable directly; inner join, a tool turn with no assistant turn
    inside the gap emits nothing."""
    a = turns.where(F.col("role") == "assistant").select(
        "conv_id",
        F.col("turn_idx").alias("assistant_idx"),
        F.col("ts").alias("assistant_ts"))
    t = turns.where(F.col("role") == "tool").select(
        F.col("conv_id").alias("__tc"),
        F.col("turn_idx").alias("tool_idx"),
        "tool",
        F.col("ts").alias("tool_ts"))
    if turns.isStreaming:
        a = a.withWatermark("assistant_ts", watermark)
        t = t.withWatermark("tool_ts", watermark)
    return (a.join(
        t,
        (F.col("conv_id") == F.col("__tc"))
        & (F.col("tool_ts") > F.col("assistant_ts"))
        & (F.col("tool_ts") <= F.col("assistant_ts")
           + F.expr(f"INTERVAL {max_gap}")))
        .select("conv_id", "assistant_idx", "assistant_ts",
                "tool_idx", "tool", "tool_ts"))


_SESSION_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("n_turns", LongType()),
    StructField("last_role", StringType()),
    StructField("closed", StringType()),
])
_STATE_SCHEMA = StructType([
    StructField("n_turns", LongType()),
    StructField("last_role", StringType()),
])


def _session_fn(key, pdfs: Iterator[pd.DataFrame],
                state: GroupState) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        (n, role) = state.get
        state.remove()
        yield pd.DataFrame([{"conv_id": key[0], "n_turns": n,
                             "last_role": role, "closed": "timeout"}])
        return
    n, role = state.get if state.exists else (0, None)
    for pdf in pdfs:
        pdf = pdf.sort_values("turn_idx")
        n += len(pdf)
        if len(pdf):
            role = pdf["role"].iloc[-1]
    state.update((n, role))
    state.setTimeoutDuration(30_000)
    yield pd.DataFrame([{"conv_id": key[0], "n_turns": n,
                         "last_role": role, "closed": "open"}])


def stream_session_state(turns: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): running
    per-conversation session state with idle timeout."""
    return (turns.groupBy("conv_id")
            .applyInPandasWithState(_session_fn,
                                    outputStructType=_SESSION_SCHEMA,
                                    stateStructType=_STATE_SCHEMA,
                                    outputMode="update",
                                    timeoutConf=GroupStateTimeout.ProcessingTimeTimeout))


def stream_closed_triples(spark: SparkSession, input_path: str,
                          output_path: str, checkpoint_path: str,
                          ontology: DataFrame):
    """Streaming INCREMENTAL RDFS materialization: file-source turns →
    turn triples → per-micro-batch ρdf closure under ``ontology`` →
    parquet append.

    Exactness: for the ρdf fragment every derived instance triple
    depends on exactly ONE instance triple plus (fixed) schema axioms
    — no instance-instance joins — so the closure distributes over
    union: closure(G ∪ Δ) = closure(G) ∪ closure(Δ).  Closing each
    micro-batch independently and appending therefore yields exactly
    the closure of the full input, up to RDF set semantics (read the
    sink with ``.distinct()``, or compact it periodically).  Schema
    triples are excluded per batch (``include_schema=False``) so they
    are not re-appended every trigger; verified stream==batch by
    ``tests/test_streaming.py``.

    foreachBatch is the right tool here (not a streaming join): the
    closure is a batch transformation of the micro-batch against a
    static, broadcast-sized schema — inside the hook it runs the SAME
    rdfs_closure code the batch pipeline uses."""
    from ..ops.reasoning import rdfs_closure

    turns = read_transcript_stream(spark, input_path)
    triples = _turn_triple_columns(
        turns.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    ).select("subj", "pred", "obj")

    def _close_batch(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent under micro-batch retries: each batch overwrites
        # its own deterministic batch=<id> partition dir, so a
        # replayed batch (failure after a partial write) replaces its
        # output instead of appending duplicates — the standard
        # foreachBatch exactly-once pattern.  Readers see the batch id
        # as a discovered partition column (per-batch lineage); select
        # subj/pred/obj + distinct for the closure itself.
        (rdfs_closure(batch_df, schema=ontology, include_schema=False)
         .write.mode("overwrite")
         .parquet(f"{output_path}/batch={batch_id}"))

    return start(triples, checkpoint_path, _close_batch)
