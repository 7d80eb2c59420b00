import uuid

import pytest


@pytest.fixture(scope="session")
def spark():
    from llm_review_aggregation_spark.session import get_spark

    s = get_spark(app_name="tests", cpus=4, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def jobs_submitted(spark):
    """`jobs_submitted(fn)`: the number of Spark jobs `fn()` submits,
    counted through its own job group."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"budget-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts reach the tracker asynchronously
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
