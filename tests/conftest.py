import collections
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sac2mseed_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def phase_jobs(spark):
    """``run(fn)`` calls ``fn()`` under a fresh job group and returns the
    Spark jobs it started, counted per job description (an engine phase
    such as ``commit d00000002 tiers``; None for undescribed jobs). A
    phase that started no job is absent."""
    sc = spark.sparkContext

    def run(fn) -> collections.Counter:
        gid = f"test-phases-{uuid.uuid4()}"
        sc.setJobGroup(gid, "phases")
        try:
            fn()
        finally:
            sc.setJobGroup("test-idle", "idle")
        # the status store is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc._jsc.sc().statusStore().jobsList(None)
        per = collections.Counter()
        for i in range(jobs.length()):
            j = jobs.apply(i)
            if j.jobGroup().isDefined() and j.jobGroup().get() == gid:
                per[j.description().get() if j.description().isDefined() else None] += 1
        return per

    return run
