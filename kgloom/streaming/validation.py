"""Streaming incremental SHACL validation.

SHACL over a growing graph is NON-MONOTONE: a minCount violation is
RETRACTED when a later batch supplies the missing value, an sh:class
violation is retracted when the value's ``rdf:type`` arrives, and a
maxCount violation can appear at any time.  So unlike the closure /
fusion streams there is no violation "append log" — the correct
incremental object is the smallest state from which the CURRENT
report is derivable.

That state is the shape-relevant SLICE of the graph: the triples
whose predicate is a shape target or constrained path, plus the
``rdf:type`` triples of referenced classes.  ``shacl_validate`` reads
nothing else (every access filters on those constants), so::

    state_k  = distinct(state_{k-1} ∪ slice(batch_k))
    report_k = shacl_validate(state_k, shapes)

equals batch validation over everything streamed so far — by
construction, because distinct-union of slices IS the slice of the
distinct union (pinned stream==batch in tests, including retraction
across batches).  A trigger launches only the jobs of the distinct
on the triple key that writes the new state, O(|state| + |batch|);
its metrics row counts the batch inside that write and the state
from the written parquet footers.  State is bounded by the shape-relevant portion of
the graph, the information-theoretic floor for exact cardinality
constraints (minCount needs exact per-focus counts).  The report
itself is computed at READ time, not per trigger — the fusion
module's read-time-rewrite discipline.

State is versioned parquet (``slice/v={batch_id}``) kept by
:mod:`kgloom.streaming.state`, so ``validate_batch`` is
retry-idempotent under Structured Streaming's replay contract.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops.reasoning import RDF_TYPE, NodeShape, shacl_validate
from . import state

TRIPLE_DDL = "subj string, pred string, obj string"


def relevant_slice(triples: DataFrame,
                   shapes: Sequence[NodeShape]) -> DataFrame:
    """The shape-relevant sub-graph: target predicates, constrained
    paths, and rdf:type edges of referenced classes — everything
    ``shacl_validate`` can read for these shapes."""
    preds, classes = set(), set()
    for sh in shapes:
        if sh.target_subjects_of is not None:
            preds.add(sh.target_subjects_of)
        if sh.target_class is not None:
            classes.add(sh.target_class)
        for ps in sh.properties:
            preds.add(ps.path)
            if ps.class_iri is not None:
                classes.add(ps.class_iri)
    cond = F.col("pred").isin(sorted(preds)) if preds else F.lit(False)
    if classes:
        cond = cond | ((F.col("pred") == RDF_TYPE)
                       & F.col("obj").isin(sorted(classes)))
    return triples.where(cond).select("subj", "pred", "obj")


def read_state(spark: SparkSession, state_path: str,
               before: Optional[int] = None) -> Optional[DataFrame]:
    """The newest complete slice version (< ``before`` if given), or
    None before the first batch."""
    return state.read_latest(spark, state_path, "slice", TRIPLE_DDL,
                             before)


def validate_batch(spark: SparkSession, state_path: str,
                   batch_df: DataFrame, batch_id: int,
                   shapes: Sequence[NodeShape]) -> None:
    """Fold one micro-batch into the validation state:
    ``state_k = distinct(state_{k-1} ∪ slice(batch_k))``."""
    batch_df, observed = state.observe(batch_df, n=F.count(F.lit(1)))
    sl = relevant_slice(batch_df, shapes)
    prev = read_state(spark, state_path, before=batch_id)
    if prev is not None:
        sl = sl.unionByName(prev)
    n_state = state.commit(sl.distinct(), state_path, "slice", batch_id)
    state.write_metrics(state_path, batch_id,
                        n_batch_rows=observed()["n"], n_state_rows=n_state)


def stream_shacl(spark: SparkSession, stream_df: DataFrame,
                 state_path: str, checkpoint_path: str,
                 shapes: Sequence[NodeShape]):
    """Fold a streaming triple DataFrame into validation state; read
    the current report any time with :func:`read_report`."""
    shapes = tuple(shapes)
    return state.start(stream_df, checkpoint_path, lambda df, i: (
        validate_batch(spark, state_path, df, i, shapes)))


def read_report(spark: SparkSession, state_path: str,
                shapes: Sequence[NodeShape]) -> DataFrame:
    """The CURRENT validation report — identical to batch
    ``shacl_validate`` over everything streamed so far, including
    violations retracted by later batches."""
    current = read_state(spark, state_path)
    if current is None:
        raise ValueError(f"no complete validation state under {state_path}")
    return shacl_validate(current, tuple(shapes))

