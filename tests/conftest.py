import pytest


@pytest.fixture(scope="session")
def spark():
    from ontonotes_5_parsing_spark.session import get_spark

    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


def jobs_in_group(spark, group, fn):
    """fn()'s result and the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc._jsc.clearJobGroup()
    # the status tracker is fed by the listener bus, behind the actions
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))
