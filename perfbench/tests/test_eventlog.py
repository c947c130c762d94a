"""The event-log parser, pinned on a hand-written log and on a tiny
real job with known job, stage and task counts."""

import glob
import json

import pytest

from perfbench.eventlog import parse_event_log, sum_totals


def _task(stage, run_ms, cpu_ns, read=0, written=0, spill=0, gc=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Stage Attempt ID": 0,
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc, "Memory Bytes Spilled": spill,
                "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                         "Local Bytes Read": read},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": written}}}


def test_parser_on_a_written_log(tmp_path):
    d1 = {"spark.job.description": "build:pipeline#p0.0:tables"}
    d2 = {"spark.job.description": "build:trigger#p0.1:streaming.x"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": d1},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0}, "Properties": d1},
        _task(0, 100, 50_000_000, written=1024 * 1024),
        _task(0, 300, 150_000_000, written=1024 * 1024, gc=20),
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1}, "Properties": d1},
        _task(1, 50, 10_000_000, read=2 * 1024 * 1024, spill=512 * 1024),
        # a second job whose first stage is skipped (no tasks)
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2, 3],
         "Properties": d2},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 3}, "Properties": d2},
        _task(3, 10, 1_000_000),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [4],
         "Properties": {}},
        _task(4, 1, 1),
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    per = parse_event_log(str(log))
    t = per["build:pipeline#p0.0:tables"]
    assert (t["jobs"], t["stages"], t["tasks"]) == (1, 2, 3)
    assert t["task_run_s"] == pytest.approx(0.45)
    assert t["task_cpu_s"] == pytest.approx(0.21)
    assert t["shuffle_write_mb"] == pytest.approx(2.0)
    assert t["shuffle_read_mb"] == pytest.approx(2.0)
    assert t["spill_mb"] == pytest.approx(0.5)
    assert t["gc_s"] == pytest.approx(0.02)
    s = per["build:trigger#p0.1:streaming.x"]
    assert (s["jobs"], s["stages"], s["tasks"]) == (1, 1, 1)
    assert per[""]["jobs"] == 1
    build = sum_totals(per, lambda d: d.startswith("build:"))
    assert (build["jobs"], build["stages"], build["tasks"]) == (2, 3, 4)


def test_parser_on_a_tiny_spark_job(tmp_path):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    spark = (SparkSession.builder.master("local[2]")
             .appName("eventlog-test")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.sql.shuffle.partitions", "3")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{tmp_path}")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    try:
        sc = spark.sparkContext
        sc.setJobDescription("t:op:layer")
        # one job: a 4-task map stage, a 3-task reduce stage
        rows = (spark.range(0, 1000, 1, 4)
                .groupBy((F.col("id") % 10).alias("k")).count().collect())
        sc.setJobDescription(None)
        assert len(rows) == 10
    finally:
        spark.stop()
    (log,) = glob.glob(str(tmp_path / "*"))
    t = parse_event_log(log)["t:op:layer"]
    assert (t["jobs"], t["stages"], t["tasks"]) == (1, 2, 7)
    # every shuffled byte is written once and read once, locally
    assert t["shuffle_write_mb"] > 0
    assert t["shuffle_read_mb"] == pytest.approx(t["shuffle_write_mb"])
    assert t["task_run_s"] > 0 and t["spill_mb"] == 0
