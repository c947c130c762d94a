"""Top-level engine API: one call from RML mapping text to triples.

Mirrors the reference CLI lifecycle
(`/root/reference/src/bin/translator/main.rs:23-126`: parse → translate
→ emit plan) and then *executes* the plan on Spark — the half the
reference leaves to a companion engine.
"""

from __future__ import annotations

import os
from functools import reduce
from typing import Callable, Optional, Union

from pyspark.sql import DataFrame, SparkSession

from .exec.binder import SinkResult, SparkBinder, write_file_sinks
from .rml.extract import extract_document
from .rml.translate import CompiledMapping, translate_to_plan
from .rml.turtle import parse_turtle


def _rdf_set(results: list[SinkResult], empty: str) -> DataFrame:
    """Write the FILE/TABLE sinks, then the ONE distinct of the run over
    the union of its DataFrame sinks (serializers do not dedup)."""
    dfs = [r.dataframe for r in write_file_sinks(results)]
    if not dfs:
        raise ValueError(empty)
    return reduce(lambda a, b: a.unionByName(b), dfs).distinct()


def compile_rml(mapping_text: str,
                source_overrides: Optional[dict[str, dict]] = None
                ) -> CompiledMapping:
    """mapping.ttl text → operator plan (parse → extract → translate)."""
    graph = parse_turtle(mapping_text)
    doc = extract_document(graph)
    return translate_to_plan(doc, source_overrides=source_overrides)


def run_rml(spark: SparkSession, mapping_text: str,
            base_dir: Optional[str] = None,
            dataframes: Optional[dict[str, DataFrame]] = None) -> DataFrame:
    """Compile + execute an RML mapping; returns the union of all sink
    outputs as one distinct (subj, pred, obj, graph) DataFrame."""
    compiled = compile_rml(mapping_text)
    binder = SparkBinder(spark=spark, dataframes=dataframes or {},
                         base_dir=base_dir)
    return _rdf_set(binder.execute(compiled.graph),
                   "mapping produced no DataFrame sinks")


def run_shexml(spark: SparkSession, shexml_text: str,
               base_dir: Optional[str] = None,
               source_overrides: Optional[dict[str, str]] = None,
               dataframes: Optional[dict[str, DataFrame]] = None,
               functions: Optional[dict[str, Callable]] = None) -> DataFrame:
    """Compile + execute a ShExML document (frontend IR #2); returns one
    distinct (subj, pred, obj, graph) DataFrame over all sinks.

    ``functions`` supplies implementations for FUNCTIONS helpers used in
    ``IF`` conditionals: ``{"helper.isBefore2010": lambda year_col: ...}``
    — each callable takes the argument expressions as pyspark Columns
    (positionally) and returns a boolean Column.  Conditionals whose
    helper has no implementation are skipped, like the reference (its
    ShExML translator skips conditionals entirely)."""
    from .exec.functions import FNO_REGISTRY
    from .shexml import parse_shexml, shexml_to_plan
    # scoped registration: binding builds all Column expressions eagerly,
    # so the registry can be restored afterwards — helper implementations
    # never leak between documents
    added, saved = [], {}
    for name, fn in (functions or {}).items():
        iri = f"shexml:{name}"
        if iri in FNO_REGISTRY:
            saved[iri] = FNO_REGISTRY[iri]
        else:
            added.append(iri)
        FNO_REGISTRY[iri] = (
            lambda f: lambda params: f(*[params[k]
                                         for k in sorted(params)]))(fn)
    try:
        doc = parse_shexml(shexml_text)
        graph = shexml_to_plan(doc, source_overrides=source_overrides)
        binder = SparkBinder(spark=spark, dataframes=dataframes or {},
                             base_dir=base_dir)
        return _rdf_set(binder.execute(graph),
                       "ShExML document produced no output branches")
    finally:
        for iri in added:
            FNO_REGISTRY.pop(iri, None)
        FNO_REGISTRY.update(saved)


def run_shexml_file(spark: SparkSession, path: str,
                    source_overrides: Optional[dict[str, str]] = None
                    ) -> DataFrame:
    with open(path, "r", encoding="utf-8") as f:
        text = f.read()
    return run_shexml(spark, text, base_dir=os.path.dirname(path),
                      source_overrides=source_overrides)


def run_rml_file(spark: SparkSession, mapping_path: str,
                 base_dir: Optional[str] = None,
                 dataframes: Optional[dict[str, DataFrame]] = None) -> DataFrame:
    with open(mapping_path, "r", encoding="utf-8") as f:
        text = f.read()
    return run_rml(spark, text,
                   base_dir=base_dir or os.path.dirname(mapping_path),
                   dataframes=dataframes)


def run_plan(spark: SparkSession, plan_json: Union[str, dict],
             base_dir: Optional[str] = None,
             dataframes: Optional[dict[str, DataFrame]] = None) -> DataFrame:
    """Execute a serialized operator plan (the ``<stem>.json`` the CLI
    emits) directly — plans are data in both directions, so a compiled
    plan runs without its mapping document."""
    from .plan import PlanGraph
    graph = PlanGraph.from_json_string(plan_json) \
        if isinstance(plan_json, str) else PlanGraph.from_json(plan_json)
    binder = SparkBinder(spark=spark, dataframes=dataframes or {},
                         base_dir=base_dir)
    return _rdf_set(binder.execute(graph), "plan produced no DataFrame sinks")


def run_plan_file(spark: SparkSession, path: str,
                  base_dir: Optional[str] = None,
                  dataframes: Optional[dict[str, DataFrame]] = None
                  ) -> DataFrame:
    with open(path, "r", encoding="utf-8") as f:
        text = f.read()
    return run_plan(spark, text, base_dir=base_dir or os.path.dirname(path),
                    dataframes=dataframes)


def nquads(df: DataFrame) -> list[str]:
    """Collect a structured triple DataFrame as sorted N-Quads lines
    (test/driver helper — not the scale path)."""
    from .exec.binder import to_nquads_lines
    return sorted(r.value for r in to_nquads_lines(df).collect())
