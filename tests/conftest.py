import pytest

from ip_filter_spark.config import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ip_filter_spark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def executed_plans(spark):
    """``executed_plans(action)`` runs ``action`` and returns the physical
    plan descriptions of the SQL executions it ran. An operator whose
    output is cut runs its plan inside the call, so the result's own
    plan is only a scan of the cut blocks."""
    store = spark._jsparkSession.sharedState().statusStore()

    def last_id() -> int:
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def run(action) -> list[str]:
        first = last_id() + 1
        action()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        runs = store.executionsList()
        plans = []
        for i in range(runs.size() - 1, -1, -1):
            if runs.apply(i).executionId() < first:
                break
            plans.append(runs.apply(i).physicalPlanDescription())
        return plans

    return run
