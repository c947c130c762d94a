"""Plan → DataFrame binder: topological walk over the operator DAG.

This is the executor the reference leaves out-of-repo (its README: the
translator "generates valid mapping plans"; execution is a companion
engine).  Operator semantics follow the operator configs
(`/root/reference/operator/src/lib.rs`) and the golden RML test-case
corpus (`/root/reference/resources/csv-testcases/`).

Spark-first choices (scale notes):

- SourceOp binds each distinct (source, iterator) to ONE DataFrame object
  so Catalyst can reuse the scan across fragments (scan sharing —
  the reference does this at plan level,
  translator/src/shexml/operators/source.rs:72-98).
- Binding launches no Spark job: CSV headers are read on the driver
  (``_csv_header_schema``) and every other source is lazy.
- ProjectOp emits an explicit ``select`` → column pruning reaches the
  scan (ReadSchema).
- ExtendOp and SerializerOp are each ONE ``selectExpr`` of Spark SQL
  text (``functions.compile_sql``): about one py4j round trip per
  output column instead of several per expression node.
- JoinOp: the parent (right) side is alias-prefixed, not deduplicated —
  a ``dropDuplicates()`` there would be one more shuffle for a set the
  run's final distinct establishes anyway; AQE picks broadcast/skew
  strategies at runtime.
- FragmentOp is lazy-DAG metadata (a DataFrame can feed many consumers);
  no materialization.
- SerializerOp keeps structured (subj, pred, obj, graph) rows and does
  not dedup: RDF set semantics cost ONE distinct per run, applied where
  sinks are consumed (``write_sinks`` per FILE/TABLE sink and returned
  frame; ``engine.run_*`` over the union of all sinks), and none for a
  serializer with ``options={"distinct": "false"}``.  N-Quads strings
  are produced only at file sinks.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..algebra import (
    DataFormat,
    ExtendOp,
    FragmentOp,
    IOType,
    JoinOp,
    JoinType,
    PredicateType,
    ProjectOp,
    RenameOp,
    SerializerOp,
    SourceOp,
    TargetOp,
)
from ..plan import PlanGraph
from .functions import (AUTOINC_IDX, bind_helpers, compile_sql,
                        sql_ident)

OUTPUT_COLUMNS = ("subj", "pred", "obj", "graph")


def _with_autoinc_index(df: DataFrame) -> DataFrame:
    """Attach the 0-based document-order row index AUTOINCREMENT reads.

    ``monotonically_increasing_id`` is (partition_id << 33) + local row
    number and partition ids follow file-split byte order, so ordering by
    it IS document order; ``row_number`` over that makes it consecutive.
    The unpartitioned window serializes the source through one task —
    inherent to "consecutive ids in document order" (a global sequence),
    and fine for the document-sized ShExML sources that use it.  Sources
    that already carry an ``__autoinc_idx__`` column skip this."""
    from pyspark.sql import Window
    return df.withColumn(
        AUTOINC_IDX,
        (F.row_number().over(Window.orderBy(F.monotonically_increasing_id()))
         - 1).cast("long"))


class BindError(Exception):
    """Plan cannot be bound (e.g. a referenced attribute is missing —
    RMLTC0002e must yield no triples)."""


def bind_extend(df: DataFrame, op: ExtendOp,
                node_id: str = "extend") -> DataFrame:
    """One ``selectExpr`` adding (or replacing, in place) every extend
    column, compiled to SQL text; works on batch and streaming frames
    alike."""
    columns = df.columns
    for name, fn in op.extend_pairs:
        missing = sorted(fn.references() - set(columns))
        if missing:
            raise BindError(f"{node_id}: extend {name!r} references "
                            f"missing columns {missing}")
    if AUTOINC_IDX not in columns and any(
            fn.contains_kind("AutoIncrement") for _, fn in op.extend_pairs):
        df = _with_autoinc_index(df)
        columns = columns + [AUTOINC_IDX]
    helpers: list = []
    exprs = {name: f"{compile_sql(fn, helpers)} AS {sql_ident(name)}"
             for name, fn in op.extend_pairs}
    keep = [exprs.pop(c) if c in exprs else sql_ident(c) for c in columns]
    return bind_helpers(df, helpers).selectExpr(*keep, *exprs.values())


def _serializer_sql(template: str) -> str:
    """Template of variable-BGP lines → one generator expression: per
    row the array of template-line quads, null where a term (or the
    graph of a 4-variable line) is null, exploded with the nulls
    filtered out."""
    quads = []
    for raw_line in template.splitlines():
        line = raw_line.strip()
        if not line:
            continue
        if line.endswith("."):
            line = line[:-1].strip()
        terms = [sql_ident(v[1:]) for v in line.split()]
        if len(terms) not in (3, 4):
            raise BindError(f"bad serializer template line {raw_line!r}")
        graph = terms[3] if len(terms) == 4 else "CAST(NULL AS STRING)"
        keep = " AND ".join(f"{t} IS NOT NULL" for t in terms)
        quads.append(f"CASE WHEN {keep} THEN named_struct('subj', "
                     f"{terms[0]}, 'pred', {terms[1]}, 'obj', {terms[2]}, "
                     f"'graph', {graph}) END")
    if not quads:
        raise BindError("serializer with empty template")
    return (f"inline(filter(array({', '.join(quads)}), "
            "q -> q IS NOT NULL))")


def _csv_header_schema(path: str,
                       case_sensitive: bool) -> Optional[StructType]:
    """The all-string schema Spark's CSV header inference would give
    ``path``, read from its first line without a Spark job; None where
    that cannot be guaranteed (not a plain local file, or a header
    line that is blank or has a quote, escape, carriage return or
    non-ASCII byte — a BOM among them), leaving
    inference to Spark.  Spark's header rules: an empty name becomes
    ``_c{i}``, a name repeated (case-insensitively unless
    ``spark.sql.caseSensitive``) becomes ``{name}{i}``."""
    import os
    if not os.path.isfile(path) or any(c in path for c in "*?[{"):
        return None
    with open(path, "rb") as f:
        raw = f.readline()
    line = raw.rstrip(b"\n")
    if line.endswith(b"\r"):
        line = line[:-1]
    # non-ASCII: Java's and Python's case folding may differ
    if not line.strip() or not line.isascii() or any(
            c in line for c in (b'"', b"\\", b"\r")):
        return None
    names = line.decode("ascii").split(",")
    keys = [n if case_sensitive else n.lower() for n in names]
    repeated = {k for k in keys if keys.count(k) > 1}
    return StructType([
        StructField(f"_c{i}" if not n else f"{n}{i}" if k in repeated
                    else n, StringType())
        for i, (n, k) in enumerate(zip(names, keys))])


@dataclass
class SinkResult:
    node_id: str
    target: TargetOp
    dataframe: DataFrame  # structured (subj, pred, obj, graph)
    format: Optional[DataFormat] = None  # upstream serializer's format
    #: the upstream serializer's RDF set semantics (False for a
    #: serializer with ``options={"distinct": "false"}``)
    distinct: bool = True

    def rdf_set(self) -> DataFrame:
        return self.dataframe.distinct() if self.distinct \
            else self.dataframe


@dataclass
class SparkBinder:
    spark: SparkSession
    #: name → pre-bound DataFrame, for IOType.DATAFRAME sources
    dataframes: dict[str, DataFrame] = field(default_factory=dict)
    #: base directory for relative file sources
    base_dir: Optional[str] = None

    def execute(self, graph: PlanGraph) -> list[SinkResult]:
        bound: dict[str, DataFrame] = {}
        results: list[SinkResult] = []
        ser_format: dict[str, DataFormat] = {}
        ser_distinct: dict[str, bool] = {}
        source_cache: dict = {}
        # document sources carry the per-RECORD index when the plan uses
        # AUTOINCREMENT, so numbering counts iterator entities rather
        # than their exploded multi-valued rows (docsource.py)
        self._wants_autoinc = any(
            isinstance(n.operator, ExtendOp) and any(
                fn.contains_kind("AutoIncrement")
                for _, fn in n.operator.extend_pairs)
            for n in graph.nodes.values())
        for node_id in graph.topological_order():
            node = graph.nodes[node_id]
            op = node.operator
            preds = graph.predecessors(node_id)
            if isinstance(op, SourceOp):
                key = (op.config, op.root_iterator.reference)
                if key not in source_cache:
                    source_cache[key] = self._bind_source(op)
                bound[node_id] = source_cache[key]
            elif isinstance(op, ProjectOp):
                df = bound[preds[0].src]
                missing = sorted(set(op.projection_attributes) - set(df.columns))
                if missing:
                    raise BindError(
                        f"{node_id}: projection references missing columns "
                        f"{missing} (available: {df.columns})")
                keep = sorted(op.projection_attributes)
                if AUTOINC_IDX in df.columns:
                    keep.append(AUTOINC_IDX)  # synthetic, rides along
                bound[node_id] = df.selectExpr(*map(sql_ident, keep))
            elif isinstance(op, RenameOp):
                df = bound[preds[0].src]
                bound[node_id] = df.withColumnsRenamed(dict(op.rename_pairs))
            elif isinstance(op, ExtendOp):
                bound[node_id] = bind_extend(bound[preds[0].src], op,
                                             node_id)
            elif isinstance(op, JoinOp):
                left = bound[preds[0].src]
                right = bound[preds[1].src]
                bound[node_id] = self._bind_join(op, left, right)
            elif isinstance(op, FragmentOp):
                bound[node_id] = bound[preds[0].src]
                if preds[0].src in ser_format:
                    ser_format[node_id] = ser_format[preds[0].src]
                    ser_distinct[node_id] = ser_distinct[preds[0].src]
            elif isinstance(op, SerializerOp):
                df = bound[preds[0].src]
                bound[node_id] = self._bind_serializer(op, df)
                ser_format[node_id] = op.format
                ser_distinct[node_id] = \
                    dict(op.options).get("distinct", "true") != "false"
            elif isinstance(op, TargetOp):
                df = bound[preds[0].src]
                results.append(SinkResult(
                    node_id=node_id, target=op, dataframe=df,
                    format=ser_format.get(preds[0].src),
                    distinct=ser_distinct.get(preds[0].src, True)))
            else:
                raise BindError(f"unknown operator {type(op).__name__}")
        return results

    # ------------------------------------------------------------------
    def _bind_source(self, op: SourceOp) -> DataFrame:
        cfg = op.config_dict
        if op.root_iterator.reference_formulation.value == "SPARQL":
            return self._bind_sparql(op)
        if op.source_type == IOType.DATAFRAME or cfg.get("source") in self.dataframes:
            name = cfg.get("source", "")
            if name not in self.dataframes:
                raise BindError(f"no pre-bound DataFrame named {name!r}")
            return self.dataframes[name]
        path = cfg.get("path") or cfg.get("source")
        if path is None:
            raise BindError("source without path")
        if self.base_dir and not path.startswith("/"):
            path = f"{self.base_dir}/{path}"
        rf = op.root_iterator.reference_formulation.value
        if rf in ("CSVRows", "JSONPath", "XMLPath", "XMLQuery") and \
                path.startswith("/"):
            import os
            if not os.path.exists(path):
                raise BindError(f"source file not found: {path}")
        if rf == "CSVRows":
            # all-strings ingest: the reference stringifies values back on
            # emission (operator/src/value.rs:68-80), so golden lexical
            # forms like "30.0E0" survive verbatim (RMLTC0005a)
            reader = self.spark.read.option("header", "true")
            schema = _csv_header_schema(path, self.spark.conf.get(
                "spark.sql.caseSensitive") == "true")
            df = (reader.schema(schema) if schema is not None
                  else reader.option("inferSchema", "false")).csv(path)
            if op.root_iterator.fields:
                # ShExML csvperrow FIELDs: alias ← column (leading '@'
                # in the query is stripped — straight_csv FIELD id <@id>)
                sel = [f"{sql_ident(src)} AS {sql_ident(f.alias)}"
                       for f in op.root_iterator.fields
                       if (src := f.reference.lstrip("@")) in df.columns]
                if not sel:
                    raise BindError(
                        f"no ShExML csv fields match columns {df.columns}")
                df = df.selectExpr(*sel)
            return df
        if rf in ("JSONPath", "XMLPath", "XMLQuery") and op.root_iterator.fields:
            from .docsource import load_document_source
            return load_document_source(
                self.spark, path, op.root_iterator,
                with_index=getattr(self, "_wants_autoinc", False))
        if rf == "JSONPath":
            return self._bind_json(path, op.root_iterator.reference)
        if rf == "Table":
            if path.endswith(".parquet") or "/" in path:
                return self.spark.read.parquet(path)
            return self.spark.table(path)
        if rf == "SQLQuery":
            from .sqlsource import load_sql_source
            query = op.root_iterator.reference or cfg.get("iterator") or ""
            jdbc_opts = {k[len("jdbc."):]: v for k, v in cfg.items()
                         if k.startswith("jdbc.")}
            df = load_sql_source(self.spark, cfg.get("source", path), query,
                                 base_dir=self.base_dir, options=jdbc_opts)
            if op.root_iterator.fields:
                # every FIELD must resolve — silently dropping a
                # mistyped reference would surface as missing columns
                # far downstream instead of a bind error here
                missing = [f.reference for f in op.root_iterator.fields
                           if f.reference.lstrip("@") not in df.columns]
                if missing:
                    raise BindError(
                        f"sql fields {missing} do not match any result "
                        f"column (available: {df.columns})")
                df = df.select(
                    *[F.col("`" + f.reference.lstrip("@") + "`")
                      .alias(f.alias) for f in op.root_iterator.fields])
            return df
        raise BindError(f"unsupported reference formulation {rf}")

    def _bind_sparql(self, op: SourceOp) -> DataFrame:
        """SPARQL reference formulation: run a SELECT subset over a
        quads source — a pre-bound (subj, pred, obj[, graph]) DataFrame
        or a parquet path of rendered quads (kgloom/sparql.py).  Remote
        endpoints are out of scope (the reference never executes them
        either); bindings come back as plain lexical values, the shape
        an endpoint's JSON results would feed the mapping."""
        from ..sparql import sparql_select
        cfg = op.config_dict
        query = op.root_iterator.reference or cfg.get("iterator")
        if not query:
            raise BindError("SPARQL source without a query")
        name = cfg.get("source", "")
        if name in self.dataframes:
            quads = self.dataframes[name]
        else:
            import os
            path = cfg.get("path") or name
            if self.base_dir and path and not path.startswith("/"):
                path = f"{self.base_dir}/{path}"
            if path.endswith(".parquet") or os.path.exists(path):
                quads = self.spark.read.parquet(path)
            else:
                raise BindError(
                    f"SPARQL source {name!r}: needs a pre-bound quads "
                    "DataFrame or a parquet path of quads (remote SPARQL "
                    "endpoints are unsupported, matching the reference)")
        df = sparql_select(quads, query)
        if op.root_iterator.fields:
            missing = [f.reference for f in op.root_iterator.fields
                       if f.reference.lstrip("?") not in df.columns]
            if missing:
                raise BindError(
                    f"sparql fields {missing} do not match any result "
                    f"variable (available: {df.columns})")
            df = df.select(
                *[F.col("`" + f.reference.lstrip("?") + "`").alias(f.alias)
                  for f in op.root_iterator.fields])
        return df

    def _bind_json(self, path: str, iterator: Optional[str]) -> DataFrame:
        """JSONPath iterators of the shape ``$.key[*]`` / ``$.a.b[*]``:
        read the document, explode the array path, flatten one level."""
        df = self.spark.read.option("multiLine", "true").json(path)
        if iterator:
            it = iterator.strip()
            if it.startswith("$."):
                it = it[2:]
            elif it.startswith("$"):
                it = it[1:]
            for part in [p for p in it.split(".") if p]:
                is_array = part.endswith("[*]")
                name = part[:-3] if is_array else part
                if name:
                    df = df.select(F.col("`" + name + "`").alias("__it"))
                else:
                    df = df.select(F.col("*"))
                if is_array:
                    df = df.select(F.explode("__it").alias("__it"))
            df = df.select("__it.*")
        return df

    def _bind_join(self, op: JoinOp, left: DataFrame, right: DataFrame) -> DataFrame:
        alias = op.join_alias or "join"
        # Parent side: alias-prefix every column (mirrors
        # TermMapInfo::prefix_attributes, term_map.rs:67-90).  The
        # synthetic autoincrement index never joins: it would pollute
        # natural-join common columns.
        parent = [c for c in right.columns if c != AUTOINC_IDX]
        renamed = right.selectExpr(
            *[f"{sql_ident(c)} AS {sql_ident(f'{alias}_{c}')}"
              for c in parent])
        if op.join_type == JoinType.CROSS:
            return left.crossJoin(renamed)
        if op.join_type == JoinType.NATURAL:
            common = [c for c in left.columns if c in parent]
            if not common:
                return left.crossJoin(renamed)
            cond = [left[sql_ident(c)] == renamed[sql_ident(f"{alias}_{c}")]
                    for c in common]
            return left.join(renamed, on=cond, how="inner")
        # equi / theta joins
        ops = {
            PredicateType.EQ: lambda a, b: a == b,
            PredicateType.GT: lambda a, b: a > b,
            PredicateType.GTE: lambda a, b: a >= b,
            PredicateType.LT: lambda a, b: a < b,
            PredicateType.LTE: lambda a, b: a <= b,
        }
        cmp = ops[op.predicate_type]
        conds = None
        for child_attr, parent_attr in op.left_right_attr_pairs:
            if child_attr not in left.columns:
                raise BindError(f"join child attribute {child_attr!r} missing")
            if parent_attr not in parent:
                raise BindError(f"join parent attribute {parent_attr!r} missing")
            c = cmp(left[sql_ident(child_attr)],
                    renamed[sql_ident(f"{alias}_{parent_attr}")])
            conds = c if conds is None else (conds & c)
        how = {JoinType.INNER: "inner", JoinType.LEFT: "left",
               JoinType.RIGHT: "right"}.get(op.join_type, "inner")
        return left.join(renamed, on=conds, how=how)

    def _bind_serializer(self, op: SerializerOp, df: DataFrame) -> DataFrame:
        """Template of variable-BGP lines → structured (subj, pred, obj,
        graph) rows in ONE scan (``_serializer_sql``); null terms
        suppress the triple (RMLTC0009a empty join key), a null graph
        suppresses the quad.  No dedup here: see ``SinkResult.rdf_set``."""
        if op.format not in (DataFormat.NQUADS, DataFormat.NTRIPLES,
                             DataFormat.TTL, DataFormat.JSONLD,
                             DataFormat.CSV, DataFormat.JSON):
            raise BindError(
                f"serializer format {op.format} not implemented "
                "(reference implements NTriples+NQuads only and "
                "enumerates the rest as unimplemented — serializer/"
                "mod.rs:39-56; TTL and JSONLD are implemented HERE via "
                "the distributed writers in kgloom/exec/ttl.py and "
                "kgloom/exec/jsonld.py, CSV/JSON as Spark-native "
                "encodings of the structured quad table at the FILE "
                "sink)")
        return df.selectExpr(_serializer_sql(op.template))


def to_nquads_lines(df: DataFrame) -> DataFrame:
    """(subj,pred,obj,graph) → single-column N-Quads text lines."""
    line = F.concat_ws(" ", F.col("subj"), F.col("pred"), F.col("obj"))
    line = F.when(F.col("graph").isNotNull(),
                  F.concat(line, F.lit(" "), F.col("graph"), F.lit(" ."))) \
            .otherwise(F.concat(line, F.lit(" .")))
    return df.select(line.alias("value"))


def write_file_sinks(results: list[SinkResult]) -> list[SinkResult]:
    """Write every FILE/TABLE sink, each as an RDF set; hand back the
    DATAFRAME (and STDOUT) sinks undeduplicated, for a caller that
    applies one distinct over their union (``engine.run_*``)."""
    rest: list[SinkResult] = []
    for r in results:
        if r.target.target_type not in (IOType.FILE, IOType.TABLE):
            rest.append(r)  # DATAFRAME / STDOUT → hand back
            continue
        cfg = r.target.config_dict
        df = r.rdf_set()
        if r.target.target_type == IOType.FILE:
            path = cfg.get("path")
            if not path:
                raise BindError("file target without path")
            if r.format == DataFormat.TTL:
                from .ttl import turtle_document_lines
                turtle_document_lines(df, cfg.get("prefixes")) \
                    .write.mode("overwrite").text(path)
            elif r.format == DataFormat.JSONLD:
                from .jsonld import jsonld_document_lines
                jsonld_document_lines(df).write.mode("overwrite").text(path)
            elif r.format == DataFormat.CSV:
                # the reference's default DataFormat: the structured
                # quad table itself, Spark-native distributed CSV
                df.write.mode("overwrite").option("header", "true").csv(path)
            elif r.format == DataFormat.JSON:
                # one JSON object per quad row (Spark-native JSON lines)
                df.write.mode("overwrite").json(path)
            else:
                to_nquads_lines(df).write.mode("overwrite").text(path)
        else:
            df.write.mode(cfg.get("mode", "overwrite")).parquet(cfg["path"])
    return rest


def write_sinks(results: list[SinkResult]) -> dict[str, DataFrame]:
    """Execute sink actions; returns node_id → structured DataFrame, an
    RDF set, for DATAFRAME targets (tests / driver)."""
    return {r.node_id: r.rdf_set() for r in write_file_sinks(results)}
