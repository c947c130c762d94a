"""Parse a Spark event log (uncompressed, non-rolling JSON lines) into
per-job-description totals.

Every task is attributed to the ``spark.job.description`` of the stage
that ran it, so a caller that tags its work with
``sc.setJobDescription("<workload>:<op>:<layer>")`` gets Spark's own
accounting (jobs, stages, tasks, executor run and CPU time, shuffle
bytes, spill, GC) per tag.
"""

from __future__ import annotations

import json
from collections import defaultdict

DESC = "spark.job.description"

#: the totals kept per description, in output order
FIELDS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
          "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s")

MB = 1024.0 * 1024.0


def _desc(event: dict) -> str:
    return (event.get("Properties") or {}).get(DESC) or ""


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Return ``{description: {field: total}}`` for the log at ``path``.
    Stages that were submitted but skipped (reused shuffle output) run
    no tasks and are not counted."""
    totals: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(FIELDS, 0))
    stage_desc: dict[int, str] = {}
    ran_stages: set[tuple[int, int]] = set()
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                totals[_desc(ev)]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_desc.setdefault(sid, _desc(ev))
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_desc[sid] = _desc(ev) or stage_desc.get(sid, "")
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                t = totals[stage_desc.get(sid, "")]
                key = (sid, ev.get("Stage Attempt ID", 0))
                if key not in ran_stages:
                    ran_stages.add(key)
                    t["stages"] += 1
                t["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                t["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                t["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0)) / MB
                r = m.get("Shuffle Read Metrics") or {}
                t["shuffle_read_mb"] += (r.get("Remote Bytes Read", 0)
                                         + r.get("Local Bytes Read", 0)) / MB
                w = m.get("Shuffle Write Metrics") or {}
                t["shuffle_write_mb"] += w.get("Shuffle Bytes Written", 0) / MB
    return {d: dict(v) for d, v in totals.items()}


def sum_totals(per_desc: dict[str, dict[str, float]], keep) -> dict[str, float]:
    """Add up the totals of every description for which ``keep(desc)``
    is true."""
    out = dict.fromkeys(FIELDS, 0)
    for d, t in per_desc.items():
        if keep(d):
            for k in FIELDS:
                out[k] += t[k]
    return out
