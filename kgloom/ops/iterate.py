"""The fixpoint driver for monotone iterative operators: one
materialization point, one convergence probe and one round-cap policy
(raise) for every loop that runs until its relation stops changing."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def fixpoint(rel: DataFrame, step: Callable[[DataFrame], DataFrame], *,
             max_rounds: int, name: str) -> DataFrame:
    """Iterate ``rel ← step(rel)`` until a round leaves the row count
    unchanged, and return that round's relation.

    Every round ``localCheckpoint``s the new relation (lineage stays
    one round deep; a plain ``persist()`` leaves the logical plan
    growing every round) and counts its rows.  An unchanged count
    means an unchanged relation ONLY for a monotone step — one that
    keeps every row (R ⊆ step(R), e.g. path doubling) or only drops
    rows (step(R) ⊆ R, e.g. k-core peeling) — so no other step may use
    this driver.  An empty ``rel`` is returned at once, so the step
    must also map the empty relation to itself.

    Raises RuntimeError when ``max_rounds`` rounds end without a
    fixpoint: the relation at the cap is a partial result, not an
    approximation."""
    rel = rel.localCheckpoint()
    n = rel.count()
    if n == 0:
        return rel
    for _ in range(max_rounds):
        nxt = step(rel).localCheckpoint()
        m = nxt.count()
        if m == n:
            return nxt
        rel, n = nxt, m
    raise RuntimeError(
        f"{name} did not converge within {max_rounds} rounds "
        f"({n} rows so far)")
