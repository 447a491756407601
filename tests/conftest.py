import pytest

from ccspark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="ccspark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def last_job_id(spark):
    """Returns a function giving the highest Spark job id in the status
    store, once the listener bus has recorded every ended job."""
    jsc = spark.sparkContext._jsc.sc()
    store, bus = jsc.statusStore(), jsc.listenerBus()

    def read() -> int:
        bus.waitUntilEmpty()
        it = store.jobsList(None).iterator()
        top = -1
        while it.hasNext():
            top = max(top, it.next().jobId())
        return top

    return read


@pytest.fixture
def spark_state(spark):
    """Returns a function reading what a crawl round or a streaming
    micro-batch must leave as it found it, on success and on failure:
    the session's AQE setting, whether its cache manager is empty, and
    the ids of the persistent RDDs."""

    def read() -> tuple:
        return (
            spark.conf.get("spark.sql.adaptive.enabled"),
            spark._jsparkSession.sharedState().cacheManager().isEmpty(),
            set(spark.sparkContext._jsc.getPersistentRDDs().keySet()),
        )

    return read
