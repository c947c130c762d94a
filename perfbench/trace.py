"""Tracing for the per-layer run.

The tracer wraps public entry points of each kgloom layer from the
benchmark's side (nothing under ``kgloom/`` changes).  A wrapper:

- tags Spark jobs with ``sc.setJobDescription("<workload>:<op>:<layer>")``;
- records a span (name, layer, start, end, parent, op id) in memory;
- forces Catalyst planning of a DataFrame before its action and reads
  the phase tracker, so analysis, optimization and planning times are
  measured where they are spent.

After the run, Spark's event log attributes task metrics to layers by
job description.  A layer's time is the self time of its spans (span
minus the part its children cover).  Each operation's root span is the
timed window itself, so the self times of one operation's spans must
add up to the latency the run loop measured; the run is not correct
when they do not (a span left open, or spans that overlap).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import inspect
import os
import statistics
import sys
import time
from dataclasses import dataclass, field
from typing import Optional

from .eventlog import parse_event_log, sum_totals
from .harness import growth
from .workloads import Build

TRANSCRIPT_STAGES = ("ingest", "mentions", "entities", "triples")
#: which stage a SnapshotStore table / pipeline builder belongs to
STAGE_OF = {"transcripts": "ingest", "mentions": "mentions",
            "entities": "entities", "triples": "triples",
            "detect_mentions": "mentions", "canonical_map": "entities",
            "construct_triples": "triples"}
OPS_FAMILIES = ("graph", "closure", "reasoning", "cc")
FOLDS = Build.FOLDS
CATALYST_PHASES = ("analysis", "optimization", "planning")


def per_layer_names() -> list[str]:
    """Every per-layer metric, in output order."""
    names = ["rml.compile_ms", "shexml.compile_ms", "sparql.parse_ms",
             "sparql.compile_ms", "plan.nodes", "plan.serde_ms",
             "exec.bind_ms", "exec.bind_jobs"]
    names += [f"catalyst.{p}_ms" for p in CATALYST_PHASES]
    names += [f"spark.{k}" for k in (
        "jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
        "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s",
        "utilization")]
    for st in TRANSCRIPT_STAGES:
        names += [f"transcripts.{st}_s", f"transcripts.{st}_rows"]
    names += ["tables.write_s", "tables.bytes_written_mb",
              "tables.files_written"]
    names += [f"ops.{f}_s" for f in OPS_FAMILIES] + ["ops.jobs_per_query"]
    for f in FOLDS:
        names += [f"streaming.{f}.trigger_s",
                  f"streaming.{f}.state_bytes_written",
                  f"streaming.{f}.state_files", f"streaming.{f}.jobs"]
    names += ["streaming.trigger_growth", "driver.py_cpu_s",
              "driver.collect_s", "trace.overhead_s", "trace.self_gap_ms",
              "trace.unattributed_share"]
    return names


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: str
    parent: Optional[int]
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def op_key(name: str, pass_idx: int, op_idx: int) -> str:
    return f"{name}#p{pass_idx}.{op_idx}"


def _dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``.  Hadoop
    checksum and marker files are left out, and so are snapshot
    manifests: they hold the write's own duration, so their size
    changes from run to run."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")) or not n.endswith(".parquet"):
                continue
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op: Optional[str] = None
        self.op_pass: dict[str, int] = {}
        self.after_op: list = []
        self.catalyst: dict[str, dict[str, float]] = {}
        self.plan_stats: dict[str, list[float]] = {}

    # -- spans -----------------------------------------------------------------
    def _desc(self, layer: str) -> str:
        return f"{self.workload}:{self.op}:{layer}"

    def open(self, name: str, layer: str, start: Optional[float] = None,
             **attrs) -> Optional[Span]:
        if self.op is None:
            return None
        sp = Span(len(self.spans), name, layer, self.op,
                  self.stack[-1].id if self.stack else None,
                  time.perf_counter() if start is None else start,
                  attrs=attrs)
        self.spans.append(sp)
        self.stack.append(sp)
        self.sc.setJobDescription(self._desc(layer))
        return sp

    def close(self, sp: Optional[Span], end: Optional[float] = None) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter() if end is None else end
        self.stack.pop()
        self.sc.setJobDescription(
            self._desc(self.stack[-1].layer) if self.stack else None)

    def begin_op(self, op, pass_idx: int, op_idx: int, t0: float) -> None:
        """Open the operation's root span at the start of its timed
        window."""
        self.op = op_key(op.name, pass_idx, op_idx)
        self.op_pass[self.op] = pass_idx
        self.open(op.name, "op", start=t0)

    def end_op(self, op, ok: bool, t1: float) -> None:
        """Close the root span at the end of the timed window.  A span
        still open under it is closed now, after the window, and so
        breaks the self-time identity."""
        while len(self.stack) > 1:
            self.close(self.stack[-1])
        if self.stack:
            self.close(self.stack[-1], end=t1)
        op_id, self.op = self.op, None
        for fn in self.after_op:
            fn(op_id)
        self.after_op.clear()

    # -- wrappers --------------------------------------------------------------
    def _wrap(self, orig, name: str, layer: str, after=None, before=None,
              nested_only: bool = False):
        """``nested_only``: no span of its own when called straight from
        the operation, i.e. for the benchmark's own final action."""
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if tracer.op is None:
                return orig(*args, **kwargs)
            if before is not None:
                before(args, kwargs)
            if nested_only and tracer.stack[-1].layer == "op":
                return orig(*args, **kwargs)
            sp = tracer.open(name, layer)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer.close(sp)
            if after is not None:
                after(sp, args, kwargs, out)
            return out
        return wrapper

    def _patch_function(self, module, attr: str, *a, **kw) -> None:
        """Replace a module function everywhere it was imported."""
        orig = getattr(module, attr)
        wrapped = self._wrap(orig, attr, *a, **kw)
        for mod in list(sys.modules.values()):
            d = getattr(mod, "__dict__", None)
            if not d:
                continue
            for k, v in list(d.items()):
                if v is orig:
                    self._saved.append((mod, k, orig))
                    setattr(mod, k, wrapped)

    def _patch_method(self, cls, attr: str, *a, **kw) -> None:
        orig = cls.__dict__[attr]
        self._saved.append((cls, attr, orig))
        setattr(cls, attr, self._wrap(orig, attr, *a, **kw))

    @contextlib.contextmanager
    def installed(self):
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        import kgloom.engine as engine
        import kgloom.shexml as shexml
        import kgloom.sparql as sparql
        from kgloom.exec import binder
        from kgloom.ops import closure, graph, reasoning
        from kgloom.streaming import distinct, validation
        from kgloom.tables import SnapshotStore
        from kgloom.transcripts import er, pipeline

        self._saved: list = []
        self._patch_function(engine, "compile_rml", "rml",
                             after=self._plan_after)
        self._patch_function(shexml, "parse_shexml", "shexml")
        self._patch_function(shexml, "shexml_to_plan", "shexml",
                             after=self._plan_after)
        self._patch_function(sparql, "parse_sparql", "sparql.parse")
        for fn in ("sparql_select", "sparql_construct", "sparql_describe",
                   "sparql_ask", "sparql_update"):
            self._patch_function(sparql, fn, "sparql.compile")
        self._patch_method(binder.SparkBinder, "execute", "exec",
                           before=self._count_nodes)
        self._patch_function(binder, "write_sinks", "exec")
        for fam, mod in (("graph", graph), ("closure", closure),
                         ("reasoning", reasoning)):
            for attr, obj in vars(mod).copy().items():
                if (inspect.isfunction(obj) and not attr.startswith("_")
                        and obj.__module__ == mod.__name__):
                    self._patch_function(mod, attr, f"ops.{fam}")
        self._patch_function(er, "connected_components", "ops.cc")
        for attr in ("detect_mentions", "canonical_map", "construct_triples"):
            self._patch_function(pipeline, attr, "transcripts",
                                 after=self._stage_after(attr))
        self._patch_method(SnapshotStore, "write", "tables",
                           after=self._snapshot_after)
        self._patch_method(SnapshotStore, "link_external", "tables",
                           after=self._snapshot_after)
        for fold, mod in (("validate_batch", validation),
                          ("distinct_batch", distinct)):
            self._patch_function(mod, fold, f"streaming.{fold}",
                                 after=self._fold_after)
        # kgloom's own collects are driver work; the benchmark's final
        # action of a query or mapping is the operation itself
        for attr in ("collect", "toPandas"):
            self._patch_method(DataFrame, attr, "driver.collect",
                               before=lambda a, kw: self._plan_df(a[0]),
                               nested_only=True)
        # every parquet write, snapshot or streaming state, is storage
        self._patch_method(DataFrameWriter, "parquet", "tables",
                           before=lambda a, kw: self._plan_df(a[0]._df))
        try:
            yield self
        finally:
            for owner, attr, orig in reversed(self._saved):
                setattr(owner, attr, orig)

    # -- per-wrapper bookkeeping ----------------------------------------------
    def _plan_df(self, df) -> None:
        """Force Catalyst to plan ``df`` now, in a span of its own, and
        record the phase times the plan tracker holds."""
        sp = self.open("plan", "catalyst")
        try:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            tot = self.catalyst.setdefault(self.op, dict.fromkeys(
                CATALYST_PHASES, 0.0))
            for p in CATALYST_PHASES:
                if phases.contains(p):  # a Scala Map
                    tot[p] += phases.apply(p).durationMs()
        finally:
            self.close(sp)

    def _count_nodes(self, args, kwargs) -> None:
        graph = args[1] if len(args) > 1 else kwargs["graph"]
        self.plan_stats.setdefault(self.op, []).append(len(graph.nodes))

    def _plan_after(self, sp, args, kwargs, out) -> None:
        """Plan serialization round trip, timed after the operation so
        it is not part of the operation's wall time."""
        from kgloom.plan import PlanGraph
        graph = getattr(out, "graph", out)
        op = self.op

        def serde(op_id):
            t = time.perf_counter()
            PlanGraph.from_json_string(graph.to_json_string())
            self.plan_stats.setdefault(op + ":serde", []).append(
                (time.perf_counter() - t) * 1e3)
        self.after_op.append(serde)

    def _stage_after(self, attr):
        def after(sp, args, kwargs, out):
            if sp is not None:
                sp.attrs["stage"] = STAGE_OF[attr]
        return after

    def _snapshot_after(self, sp, args, kwargs, out) -> None:
        if sp is None:
            return
        sp.attrs["stage"] = STAGE_OF.get(out.table)
        sp.attrs["rows"] = out.manifest["row_count"]
        if "external_path" in out.manifest:
            sp.attrs["bytes"], sp.attrs["files"] = 0, 0
            return

        def usage(op_id):
            sp.attrs["bytes"], sp.attrs["files"] = _dir_usage(out.path)
        self.after_op.append(usage)

    def _fold_after(self, sp, args, kwargs, out) -> None:
        if sp is None:
            return
        state = args[1] if len(args) > 1 else kwargs["state_path"]

        def usage(op_id):
            sp.attrs["bytes"], sp.attrs["files"] = _dir_usage(state)
        self.after_op.append(usage)

    # -- results ---------------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.id] = s.dur - covered
        return out

    def span_totals(self) -> dict[str, dict[str, float]]:
        """Per layer: span count, inclusive and self seconds."""
        selft = self.self_times()
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            t = out.setdefault(s.layer, {"spans": 0, "total_s": 0.0,
                                         "self_s": 0.0})
            t["spans"] += 1
            t["total_s"] += s.dur
            t["self_s"] += selft[s.id]
        return out

    def layer_metrics(self, traced, plain, eventlog_dir: str, cores: int
                      ) -> tuple[dict[str, float], bool]:
        """Per-layer metrics of the first traced pass, plus
        the tracing overhead; and whether every op's span self times
        add up to its wall time."""
        ops = {op for op, p in self.op_pass.items() if p == 0}
        spans = [s for s in self.spans if s.op in ops]
        selft = self.self_times()
        m = dict.fromkeys(per_layer_names(), 0.0)

        def self_s(pred) -> float:
            return sum(selft[s.id] for s in spans if pred(s))

        m["rml.compile_ms"] = 1e3 * self_s(lambda s: s.layer == "rml")
        m["shexml.compile_ms"] = 1e3 * self_s(lambda s: s.layer == "shexml")
        m["sparql.parse_ms"] = 1e3 * self_s(lambda s: s.layer == "sparql.parse")
        m["sparql.compile_ms"] = 1e3 * self_s(
            lambda s: s.layer == "sparql.compile")
        m["plan.nodes"] = sum(sum(self.plan_stats.get(op, [])) for op in ops)
        m["plan.serde_ms"] = sum(sum(self.plan_stats.get(op + ":serde", []))
                                 for op in ops)
        m["exec.bind_ms"] = 1e3 * self_s(lambda s: s.layer == "exec")
        for op in ops:
            for p, v in self.catalyst.get(op, {}).items():
                m[f"catalyst.{p}_ms"] += v
        for st in TRANSCRIPT_STAGES:
            m[f"transcripts.{st}_s"] = sum(
                s.dur for s in spans if s.attrs.get("stage") == st)
            m[f"transcripts.{st}_rows"] = sum(
                s.attrs.get("rows", 0) for s in spans
                if s.attrs.get("stage") == st and s.layer == "tables")
        m["tables.write_s"] = self_s(lambda s: s.layer == "tables")
        m["tables.bytes_written_mb"] = sum(
            s.attrs.get("bytes", 0) for s in spans
            if s.layer == "tables") / 2 ** 20
        m["tables.files_written"] = sum(
            s.attrs.get("files", 0) for s in spans if s.layer == "tables")
        for fam in OPS_FAMILIES:
            m[f"ops.{fam}_s"] = self_s(lambda s: s.layer == f"ops.{fam}")
        m["driver.collect_s"] = self_s(lambda s: s.layer == "driver.collect")
        done = traced[0]
        m["driver.py_cpu_s"] = sum(r.py_cpu for r in done.ops)

        # Spark's own accounting, attributed by job description
        logs = glob.glob(os.path.join(eventlog_dir, "*"))
        per_desc = parse_event_log(logs[0]) if logs else {}

        def in_ops(desc: str, layer: Optional[str] = None) -> bool:
            parts = desc.split(":")
            return (len(parts) == 3 and parts[0] == self.workload
                    and parts[1] in ops and (layer is None or parts[2] == layer))
        tot = sum_totals(per_desc, in_ops)
        for k, v in tot.items():
            m[f"spark.{k}"] = v
        m["spark.utilization"] = tot["task_run_s"] / (done.wall * cores)
        m["exec.bind_jobs"] = sum_totals(
            per_desc, lambda d: in_ops(d, "exec"))["jobs"]
        if self.workload == "query":
            n_queries = sum(1 for r in done.ops if not r.name.startswith(
                ("rml", "shexml")))
            q_ops = {op for op in ops if not op.startswith(("rml", "shexml"))}
            m["ops.jobs_per_query"] = sum_totals(
                per_desc, lambda d: in_ops(d) and d.split(":")[1] in q_ops
            )["jobs"] / max(1, n_queries)
        trig = [r.latency for r in done.ops if r.name == "trigger"]
        n_trig = max(1, len(trig))
        if trig:
            m["streaming.trigger_growth"] = growth(trig)
        for fold in FOLDS:
            fs = [s for s in spans if s.layer == f"streaming.{fold}"]
            if not fs:
                continue
            m[f"streaming.{fold}.trigger_s"] = sum(s.dur for s in fs) / n_trig
            last = max(fs, key=lambda s: s.start)
            m[f"streaming.{fold}.state_bytes_written"] = \
                last.attrs.get("bytes", 0) / n_trig
            m[f"streaming.{fold}.state_files"] = last.attrs.get("files", 0)
            m[f"streaming.{fold}.jobs"] = sum_totals(
                per_desc, lambda d: in_ops(d, f"streaming.{fold}")
            )["jobs"] / n_trig

        # tracing overhead; per traced operation, the self times of its
        # spans against the latency the run loop measured
        m["trace.overhead_s"] = (statistics.median(p.wall for p in traced)
                                 - statistics.median(p.wall for p in plain))
        gap = self.self_gap({op_key(r.name, r.pass_idx, r.op_idx): r.latency
                             for p in traced for r in p.ops})
        m["trace.self_gap_ms"] = gap * 1e3
        m["trace.unattributed_share"] = (
            self_s(lambda s: s.layer == "op") / done.wall)
        # float rounding over one operation's spans stays far below this
        return m, gap < 1e-9

    def self_gap(self, latency: dict[str, float]) -> float:
        """The largest difference, over operations, between the sum of
        an operation's span self times and its measured latency."""
        selft = self.self_times()
        self_sum = dict.fromkeys(latency, 0.0)
        for s in self.spans:
            self_sum[s.op] += selft[s.id]
        return max(abs(self_sum[op] - latency[op]) for op in latency)
