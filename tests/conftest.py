import uuid

import pytest
from pyspark.sql import SparkSession

from architxt_spark.session import EXCLUDED_OPTIMIZER_RULES


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("architxt-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the engine's optimizer profile, as get_spark declares it
        .config("spark.sql.optimizer.excludedRules", EXCLUDED_OPTIMIZER_RULES)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)``: run ``fn()`` and return how many Spark jobs it
    started, read from the status tracker by job group."""
    sc = spark.sparkContext

    def run(fn) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run
