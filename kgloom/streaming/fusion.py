"""Streaming INCREMENTAL owl:sameAs fusion.

Unlike the rho-df closure (``stream_closed_triples``), sameAs fusion
does NOT distribute over union: a sameAs edge arriving in batch k can
merge two components first seen in batches i < j < k, changing the
canonical term of triples emitted long ago.  Keyed streaming state
(``applyInPandasWithState``) cannot express that either — connected
components is a GLOBAL equivalence relation, and any grouping key
splits it.  The scalable exact design is incremental view maintenance
via ``foreachBatch``:

- **raw store** (append-only, one ``v=<batch_id>`` dir per
  micro-batch, read as the union of every complete one): the batch's
  data triples, stored UN-rewritten.  Original terms are stable under
  future merges, so no stored byte is ever invalidated.
- **alias map** (versioned, one ``v=<batch_id>`` dir per batch): the
  global (node, canonical) map after folding in the batch's sameAs
  edges.  Incremental recurrence::

      map_k = CC(map_{k-1} as edges  UNION  sameAs edges of batch k)

  Exact by induction: ``map_{k-1}`` (node -> canonical) is a spanning
  star forest of the first k-1 batches' sameAs graph — same node
  partition, same lexicographically-minimal canonicals — so closing
  it with the new edges yields exactly ``CC(all edges so far)``.
  Per-batch cost is O(|map| + |batch|), never O(history).  A replayed
  batch recomputes from ``map_{batch_id - 1}`` (strictly-older
  version), so a failure after a partial map write is repaired, not
  compounded.
- **fused output** = ``read_fused``: raw triples rewritten through the
  LATEST map at read time (two joins; the map side is orders of
  magnitude smaller than the data and broadcasts under AQE).  Eagerly
  rewriting history on every cross-batch merge would be O(history)
  per batch — the lazy view is the 100-TB shape; ``compact_fused``
  materializes a snapshot when read amplification matters.
- **metrics** (one row per batch): data/edge/map-size counts plus
  ``n_changed`` — how many alias rows this batch added or re-pointed —
  the per-batch lineage record for merge auditing.  The sizes cost no
  job (:mod:`kgloom.streaming.state`); ``n_changed`` is one anti-join.

The reference names streaming targets as enum values only
(IOType::Kafka/Websocket, operator/src/lib.rs:362-370); this realizes
the incremental-materialization semantics those targets would need.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops.reasoning import OWL_SAMEAS, rewrite_canonical
from . import state

TRIPLE_DDL = "subj string, pred string, obj string"
_MAP_DDL = "node string, canonical string"


def read_triple_stream(spark: SparkSession, input_path: str,
                       max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream of (subj, pred, obj) parquet triples."""
    return (spark.readStream
            .schema(TRIPLE_DDL)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(input_path))


def read_alias_map(spark: SparkSession, state_path: str,
                   before: Optional[int] = None) -> Optional[DataFrame]:
    """The newest complete alias-map version (< ``before`` if given),
    or None when no sameAs edge has been seen yet."""
    return state.read_latest(spark, state_path, "map", _MAP_DDL, before)


def fold_alias_map(prev_map: Optional[DataFrame],
                   edges: DataFrame) -> DataFrame:
    """One step of the incremental recurrence:
    ``map_k = CC(map_{k-1} as star-forest edges  UNION  edges_k)``.
    ``prev_map`` is (node, canonical) or None for the first step;
    ``edges`` is (src, dst).  Returns the new (node, canonical) map
    (non-identity rows only).  Exact because the previous map spans
    the same node partition with the same lexicographically-minimal
    canonicals as all edges folded so far."""
    from ..ops.graph import connected_components

    if prev_map is not None:
        edges = edges.unionByName(
            prev_map.select(F.col("node").alias("src"),
                            F.col("canonical").alias("dst")))
    return (connected_components(edges)
            .where(F.col("node") != F.col("component"))
            .select("node", F.col("component").alias("canonical")))


def fuse_batch(spark: SparkSession, state_path: str,
               batch_df: DataFrame, batch_id: int,
               same_as_pred: str = OWL_SAMEAS) -> None:
    """Fold one micro-batch into the incremental-fusion state.
    Deterministic in (state up to batch_id-1, batch contents) — safe
    under micro-batch replay."""
    is_edge = F.col("pred") == same_as_pred
    observed_df, observed = state.observe(
        batch_df, n_data=F.count_if(~is_edge),
        n_edges=F.count_if(is_edge & (F.col("subj") != F.col("obj"))))
    state.commit(observed_df.where(~is_edge), state_path, "raw", batch_id)

    batch_edges = (batch_df.where(is_edge)
                   .select(F.col("subj").alias("src"),
                           F.col("obj").alias("dst"))
                   .where(F.col("src") != F.col("dst")))
    prev = read_alias_map(spark, state_path, before=batch_id)
    n_map = state.commit(fold_alias_map(prev, batch_edges), state_path,
                         "map", batch_id)

    # n_changed = alias rows added or re-pointed by this batch (the map
    # just written, anti-joined with the previous one) — a cross-batch
    # component merge shows up here as exactly the re-canonicalized
    # member set
    n_changed = n_map if prev is None else (
        read_alias_map(spark, state_path, before=batch_id + 1)
        .join(prev, ["node", "canonical"], "left_anti").count())
    state.write_metrics(state_path, batch_id, **observed(), n_map=n_map,
                        n_changed=n_changed)


def stream_fused_triples(spark: SparkSession, input_path: str,
                         state_path: str, checkpoint_path: str,
                         same_as_pred: str = OWL_SAMEAS,
                         max_files_per_trigger: int = 1):
    """Streaming incremental sameAs fusion: triple stream →
    ``fuse_batch`` per micro-batch.  Read the result with
    ``read_fused`` (exact: equals batch ``same_as_fusion`` over the
    full input — pinned by ``tests/test_streaming_fusion.py``,
    including components that merge ACROSS batches)."""
    triples = read_triple_stream(spark, input_path, max_files_per_trigger)
    return state.start(triples, checkpoint_path, lambda df, i: (
        fuse_batch(spark, state_path, df, i, same_as_pred)))


def read_fused(spark: SparkSession, state_path: str) -> DataFrame:
    """The fused view: all raw batches rewritten through the latest
    alias map.  O(data) with two broadcast-sized joins; no history
    rewrite ever happens at ingest time."""
    raw = state.read_all(spark, state_path, "raw", TRIPLE_DDL)
    if raw is None:
        raise ValueError(f"no complete raw state under {state_path}")
    mapping = read_alias_map(spark, state_path)
    if mapping is None:
        return raw.distinct()
    return rewrite_canonical(raw, mapping)


def compact_fused(spark: SparkSession, state_path: str,
                  output_path: str) -> None:
    """Materialize the fused view as one parquet snapshot — the
    periodic compaction that bounds read amplification of the lazy
    view (run it every N batches or on merge-volume triggers, not per
    batch: per-batch compaction would be the O(history) rewrite the
    design avoids)."""
    read_fused(spark, state_path).write.mode("overwrite").parquet(output_path)
