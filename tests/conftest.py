from __future__ import annotations

import pytest

from lash_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="lash_spark_tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_pages(spark):
    from lash_spark.synth import generate_pages

    return generate_pages(spark, 600, seed=42, partitions=4).cache()


@pytest.fixture(scope="session")
def run_in_group(spark):
    """``run(group, fn)`` runs ``fn`` under a Spark job group and returns
    its result, the number of Spark jobs the group ran and the executed
    physical plans of the SQL executions it started (read from the SQL
    status store once the listener bus has drained)."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def last_id():
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).head().executionId() if n else -1

    def plans_after(first):
        # execution ids grow, and a group starts far fewer than 200: read
        # only the tail of the store, not every execution of the session
        n = store.executionsCount()
        it = store.executionsList(max(0, n - 200), 200).iterator()
        plans = []
        while it.hasNext():
            e = it.next()
            if e.executionId() > first:
                plans.append(e.physicalPlanDescription())
        return plans

    def run(group, fn):
        before = last_id()
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group)), plans_after(before)

    return run
