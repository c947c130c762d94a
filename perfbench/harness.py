"""The benchmark's run loop: a host-sized Spark session, a closed loop
of operations timed one at a time, process CPU and memory probes, and
the end-to-end metrics computed from the samples.

A workload supplies ``generate(dest)`` (seeded inputs), ``warm()``
(untimed warm-up), ``ops()`` (one pass: a list of :class:`Op`) and
``check_pass()`` (a correctness check after a pass).  Everything the
loop does between two operations (cache clearing, output checks) is
outside the timed window.
"""

from __future__ import annotations

import gc
import math
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

#: set-up repetitions whose median is reported as the generation part
#: of ``setup_s``
SETUP_REPS = 3
#: a timed loop runs at least this many passes, so that its pass-level
#: metrics are medians
MIN_PASSES = 2


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_driver_memory() -> str:
    """A fifth of host RAM, between 1 and 4 GiB: the local-mode driver
    holds every executor, and the host is shared."""
    with open("/proc/meminfo") as f:
        kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    gb = max(1, min(4, int(kb / 1024 / 1024 / 5)))
    return f"{gb}g"


def start_session(work: str, cores: int, eventlog_dir: Optional[str] = None):
    from pyspark.sql import SparkSession
    mem = host_driver_memory()
    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("kgloom-perfbench")
         .config("spark.driver.memory", mem)
         .config("spark.sql.shuffle.partitions", str(2 * cores))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                 f"-Dderby.system.home={os.path.join(work, 'derby')}"))
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + eventlog_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)


# -- process probes -----------------------------------------------------------

def _stat(pid: int) -> Optional[list[str]]:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


class ProcProbe:
    """CPU seconds of this Python driver plus the JVM and every process
    under it (the Python workers the JVM forks), and the peak memory of
    one operation."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self.jvm = int(jvm.java.lang.ProcessHandle.current().pid())
        self.tick = os.sysconf("SC_CLK_TCK")
        # every JVM memory pool but the young generation's eden, whose
        # peak is its capacity at the next collection: G1 sizes it by
        # pause-time goals, so it follows GC timing more than the program
        self.pools = [p for p in jvm.java.lang.management.ManagementFactory
                      .getMemoryPoolMXBeans() if "Eden" not in p.getName()]
        self.py_rss0 = 0

    def jvm_cpu(self) -> float:
        ticks = 0
        for pid in _descendants(self.jvm):
            st = _stat(pid)
            if st is not None:
                # utime + stime, plus reaped children for the JVM itself
                ticks += int(st[11]) + int(st[12])
                if pid == self.jvm:
                    ticks += int(st[13]) + int(st[14])
        return ticks / self.tick

    def cpu(self) -> tuple[float, float]:
        """(python driver CPU s, JVM tree CPU s), both cumulative."""
        return time.process_time(), self.jvm_cpu()

    def mem_reset(self) -> None:
        """Start a memory window: reset the peak of the JVM memory pools
        and the driver's peak RSS (VmHWM)."""
        for p in self.pools:
            p.resetPeakUsage()
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        self.py_rss0 = _vm_kb("VmRSS")

    def peak_mem_mb(self) -> float:
        """Memory in use at its peak since :meth:`mem_reset`: the JVM
        pools' peak usage (survivor and old generation, metaspace, code
        cache) plus how far the driver's RSS grew.  The JVM's Python
        workers come and go with task scheduling and are left out."""
        jvm = sum(p.getPeakUsage().getUsed() for p in self.pools)
        grew = max(0, _vm_kb("VmHWM") - self.py_rss0) * 1024
        return (jvm + grew) / 2 ** 20


def _vm_kb(field: str) -> int:
    with open("/proc/self/status") as f:
        return int(next(ln for ln in f if ln.startswith(field + ":"))
                   .split()[1])


# -- statistics -----------------------------------------------------------------

def tail(samples: list[float]) -> tuple[float, int]:
    """The highest whole percentile, from p90 up, with at least ten
    samples above it, and that percentile.  Below 100 samples no such
    percentile exists and the tail is the maximum (p100)."""
    n = len(samples)
    pct = int(100 * (n - 10) / n) if n else 0
    if pct < 90:
        return max(samples), 100
    # nearest rank: at most n - 10 samples at or below it
    return sorted(samples)[math.ceil(pct * n / 100) - 1], pct


def growth(latencies: list[float]) -> float:
    """Median of the last quarter of a sequence over the median of its
    first quarter."""
    q = max(1, len(latencies) // 4)
    return statistics.median(latencies[-q:]) / statistics.median(latencies[:q])


# -- the run loop ---------------------------------------------------------------

@dataclass
class Op:
    name: str
    run: Callable[[], Any]
    check: Optional[Callable[[Any], bool]] = None


@dataclass
class OpRecord:
    name: str
    pass_idx: int
    op_idx: int
    latency: float
    py_cpu: float
    jvm_cpu: float
    mem_mb: float
    ok: bool


@dataclass
class PassRecord:
    ops: list[OpRecord] = field(default_factory=list)
    ok: bool = True

    @property
    def wall(self) -> float:
        return sum(r.latency for r in self.ops)

    @property
    def cpu(self) -> float:
        return sum(r.py_cpu + r.jvm_cpu for r in self.ops)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", flush=True)


def run_loop(spark, workload, probe: ProcProbe, seconds: float,
             min_passes: int = MIN_PASSES, on_op_start=None,
             on_op_end=None) -> list[PassRecord]:
    """Run whole passes of ``workload.ops()`` until ``seconds`` of timed
    work have elapsed and at least ``min_passes`` passes are done.
    Stopping only between passes keeps the mix of operations the same in
    every run.  Failures are counted, never raised.

    ``on_op_start(op, pass_idx, op_idx, t0)`` and ``on_op_end(op, ok,
    t1)`` are called inside the timed window, with its start and end."""
    passes: list[PassRecord] = []
    timed = 0.0
    while timed < seconds or len(passes) < min_passes:
        # every pass starts from a collected heap, so a pass does not pay
        # for the garbage of the one before
        gc.collect()
        spark.sparkContext._jvm.java.lang.System.gc()
        rec = PassRecord()
        passes.append(rec)
        for i, op in enumerate(workload.ops()):
            spark.catalog.clearCache()
            ok, out = True, None
            probe.mem_reset()
            c0 = probe.cpu()
            t0 = time.perf_counter()
            if on_op_start:
                on_op_start(op, len(passes) - 1, i, t0)
            try:
                out = op.run()
            except Exception:  # one failed operation must not end the run
                ok = False
                traceback.print_exc()
            t1 = time.perf_counter()
            if on_op_end:
                on_op_end(op, ok, t1)
            dt = t1 - t0
            c1 = probe.cpu()
            mem = probe.peak_mem_mb()
            if ok and op.check is not None:
                try:
                    ok = bool(op.check(out))
                except Exception:
                    ok = False
                    traceback.print_exc()
                if not ok:
                    log(f"wrong output: {op.name}")
            rec.ops.append(OpRecord(op.name, len(passes) - 1, i, dt,
                                    c1[0] - c0[0], c1[1] - c0[1], mem, ok))
            timed += dt
        try:
            rec.ok = bool(workload.check_pass())
        except Exception:
            rec.ok = False
            traceback.print_exc()
        if not rec.ok:
            log("pass check failed")
    return passes


def end_to_end(passes: list[PassRecord], workload, setup_s: float
               ) -> dict[str, float]:
    lat = [r.latency for p in passes for r in p.ops]
    run_s = statistics.median(p.wall for p in passes)
    return {
        "setup_s": setup_s,
        "run_s": run_s,
        "cpu_s": statistics.median(p.cpu for p in passes),
        "peak_mem_mb": statistics.median(
            r.mem_mb for p in passes for r in p.ops),
        "op_p50_s": statistics.median(lat),
        "turns_per_s": workload.turns_per_pass / run_s,
        "triples_per_s": workload.triples_per_pass / run_s,
    }


def op_tail(passes: list[PassRecord]) -> dict:
    """The operation-latency tail with its percentile and sample count.
    It goes to the result file and the log, not to the end-to-end
    metrics: a run times fewer than a hundred operations, so the tail
    is the maximum, whose run-to-run spread exceeds any bound the
    benchmark may set."""
    lat = [r.latency for p in passes for r in p.ops]
    value, pct = tail(lat)
    log(f"{len(lat)} operations in {len(passes)} passes; "
        f"operation tail p{pct} of {len(lat)} samples: {value:.3f}s")
    return {"value": value, "percentile": pct, "samples": len(lat)}


def unit(metric: str) -> str:
    if metric in UNITS:
        return UNITS[metric]
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_bytes_written"):
        return "B"
    return "count"


def records(passes: list[PassRecord]) -> list[dict]:
    return [{"ok": p.ok, "ops": [vars(r) for r in p.ops]} for p in passes]


#: units the metric name's suffix does not give
UNITS = {
    "turns_per_s": "1/s", "triples_per_s": "1/s",
    "spark.utilization": "ratio", "streaming.trigger_growth": "ratio",
    "trace.unattributed_share": "ratio",
}


def failures(passes: list[PassRecord]) -> tuple[int, int]:
    """(attempted, failed): every operation, plus a failed pass check
    counting against the last operation of that pass."""
    attempted = sum(len(p.ops) for p in passes)
    failed = sum(1 for p in passes for r in p.ops if not r.ok)
    failed += sum(1 for p in passes if not p.ok and p.ops[-1].ok)
    return attempted, failed
