import os
import time

import pytest
from pyspark.sql import SparkSession

#: the algemaploom-rs reference checkout, beside this repository: the
#: 39-case RML CSV test corpus and the ShExML fixtures
REFERENCE = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "reference")
requires_reference = pytest.mark.skipif(
    not os.path.isdir(REFERENCE),
    reason=f"reference checkout absent: {REFERENCE} holds the RML corpus "
           "and ShExML fixtures this test reads")


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[*]")
        .appName("kgloom-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    yield spark
    spark.stop()


def spark_jobs(spark, group: str, action) -> int:
    """Run ``action`` and return how many Spark jobs it launched."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        action()
        # listener events arrive in order: once a later marker job
        # shows as finished, every job of ``group`` is visible
        sc.setJobGroup(group + ":end", "")
        sc.parallelize([0], 1).count()
        deadline = time.time() + 60
        while not any(
                tracker.getJobInfo(j).status == "SUCCEEDED"
                for j in tracker.getJobIdsForGroup(group + ":end")
                if tracker.getJobInfo(j) is not None):
            assert time.time() < deadline, "job events never arrived"
            time.sleep(0.05)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(tracker.getJobIdsForGroup(group))
