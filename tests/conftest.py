import uuid

import pytest

from architxt_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("architxt-spark-tests", cores=4)
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
