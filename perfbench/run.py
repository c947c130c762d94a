"""kgloom benchmark.

    python3 perfbench/run.py --workload build --seed 1 --seconds 12 --trace 0

Runs one workload from the root of a kgloom checkout on a host-sized
``local[<cores>]`` session: set-up (session start, seeded input
generation, an untimed warm-up pass), then a closed loop of operations,
one at a time, for ``--seconds`` of timed work.  Every output is
checked outside the timed window.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  The full record (every sample,
span totals, percentiles) goes to ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["build", "query"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def run(args, work: str) -> dict:
    from perfbench import harness as H
    from perfbench.workloads import WORKLOADS

    cores = H.host_cores()
    eventlog = os.path.join(work, "eventlog") if args.trace else None
    t0 = time.perf_counter()
    spark = H.start_session(work, cores, eventlog)
    session_s = time.perf_counter() - t0
    try:
        probe = H.ProcProbe(spark)
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        gen_s = []
        for r in range(H.SETUP_REPS):
            dest = os.path.join(work, f"input{r}")
            t = time.perf_counter()
            wl.generate(dest)
            gen_s.append(time.perf_counter() - t)
        wl.prepare(dest)
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(gen_s) + warm_s
        H.log(f"setup: session {session_s:.2f}s, generation "
              f"{statistics.median(gen_s):.2f}s (median of {len(gen_s)}), "
              f"warm-up {warm_s:.2f}s")

        if not args.trace:
            passes = H.run_loop(spark, wl, probe, args.seconds)
            metrics = H.end_to_end(passes, wl, setup_s)
            attempted, failed = H.failures(passes)
            record = {"passes": H.records(passes),
                      "op_tail_s": H.op_tail(passes)}
            ok = True
        else:
            from perfbench.trace import Tracer
            half = args.seconds / 2
            plain = H.run_loop(spark, wl, probe, half, min_passes=1)
            tracer = Tracer(spark, wl.name)
            with tracer.installed():
                traced = H.run_loop(spark, wl, probe, half, min_passes=1,
                                    on_op_start=tracer.begin_op,
                                    on_op_end=tracer.end_op)
            H.stop_session(spark)
            spark = None
            metrics, ok = tracer.layer_metrics(traced, plain, eventlog, cores)
            a1, f1 = H.failures(plain)
            a2, f2 = H.failures(traced)
            attempted, failed = a1 + a2, f1 + f2
            record = {"passes": H.records(plain),
                      "traced_passes": H.records(traced),
                      "spans": tracer.span_totals()}
    finally:
        if spark is not None:
            H.stop_session(spark)
    result = {"correct": ok and failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": v, "unit": H.unit(k)}
                          for k, v in metrics.items()}}
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "seconds": args.seconds, "trace": args.trace,
                   "cores": cores, **result, **record}, f, indent=1)
    return result


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    # a checkout without the program fails here, before any output
    import kgloom  # noqa: F401
    import __spark_entry__  # noqa: F401

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # temporary files of Python, the JVM and Spark stay in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
