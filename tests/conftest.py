import os

import pytest

TESTDATA_ROOT = "/root/testdata"
SF_SMALL = os.path.join(TESTDATA_ROOT, "sf0.001")
SF_MEDIUM = os.path.join(TESTDATA_ROOT, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from lakeflush_spark import get_spark

    s = get_spark("lakeflush-tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium_dir():
    return SF_MEDIUM


@pytest.fixture
def job_stages(spark):
    """``job_stages(group)`` -> {job id: [task count of each stage]} for
    the Spark jobs run under job group ``group`` (a streaming query runs
    its jobs under the group ``str(query.runId)``), read from the status
    tracker once the listener bus has delivered their events."""
    sc = spark.sparkContext

    def read(group: str) -> dict:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        out = {}
        for job in tracker.getJobIdsForGroup(group):
            stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(job).stageIds]
            out[job] = [s.numTasks for s in stages if s is not None]
        return out

    return read
