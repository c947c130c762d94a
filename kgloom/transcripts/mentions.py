"""Mention detection + entity-link scoring over transcript text.

Detection is pure Catalyst: ``regexp_extract_all`` + ``explode``, a
whole-stage-codegen'd JVM path with no Python worker.

Entity-link scoring is a Catalyst expression producing a
deterministic confidence in [0,1] per (surface, candidate) pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: one alternation covering every surface-form variant the generator
#: emits (kgloom/transcripts/generate.py VARIANT_FMTS)
MENTION_PATTERN = r"(?:Entity_[0-9]+|entity [0-9]+|E-[0-9]+|ENT:[0-9]+)"


def detect_mentions(turns: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, text, ...) → one row per mention occurrence:
    (conv_id, turn_idx, surface, norm_key)."""
    surfaces = F.regexp_extract_all("text", F.lit(MENTION_PATTERN), 0)
    out = (turns
           .select("conv_id", "turn_idx",
                   F.explode(surfaces).alias("surface"))
           .withColumn("norm_key", normalize_surface(F.col("surface"))))
    return out


def normalize_surface(col: F.Column) -> F.Column:
    """Blocking stage-1 key: strip everything but digits (every variant
    of entity k collapses to str(k))."""
    return F.regexp_replace(F.lower(col), "[^0-9]", "")


def link_score(surface: F.Column, candidate_key: F.Column) -> F.Column:
    """Entity-link confidence in [0,1] — pure Catalyst (codegen'd).

    Deterministic heuristic: digit-sequence agreement (hard requirement)
    weighted by a variant prior (canonical ``Entity_k`` form scores
    highest).  Stand-in for a learned scorer.
    """
    digits = normalize_surface(surface)
    return (F.when(surface.isNull() | candidate_key.isNull(), 0.0)
            .when(digits != candidate_key, 0.0)
            .when(surface.startswith("Entity_"), 1.0)
            .when(surface.startswith("entity "), 0.95)
            .when(surface.startswith("E-"), 0.9)
            .otherwise(0.85))
