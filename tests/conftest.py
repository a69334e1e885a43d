import pytest


@pytest.fixture(scope="session")
def spark():
    from varint_rvv_spark.plans.session import get_spark

    s = get_spark(app="varint_rvv_spark-tests", master="local[4]",
                  shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def count_jobs(spark):
    """count_jobs(fn) -> (fn(), number of Spark jobs fn ran)."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
