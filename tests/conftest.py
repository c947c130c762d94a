import os

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
