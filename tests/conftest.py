import collections
import os
import sys
import time
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
    phase that started no job is absent. Every job submitted while
    ``fn()`` ran must carry the group: a job started from a thread that
    did not inherit the caller's job group (a plain ``threading.Thread``
    under pinned threads) would drop out of the counts unseen."""
    sc = spark.sparkContext

    def run(fn) -> collections.Counter:
        gid = f"test-phases-{uuid.uuid4()}"
        t0 = int(time.time() * 1000)
        sc.setJobGroup(gid, "phases")
        try:
            fn()
        finally:
            sc.setJobGroup("test-idle", "idle")
        t1 = int(time.time() * 1000)
        # the status store is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc._jsc.sc().statusStore().jobsList(None)
        per = collections.Counter()
        in_group, in_window = set(), set()
        for i in range(jobs.length()):
            j = jobs.apply(i)
            sub = j.submissionTime()
            if sub.isDefined() and t0 <= sub.get().getTime() <= t1:
                in_window.add(j.jobId())
            if j.jobGroup().isDefined() and j.jobGroup().get() == gid:
                in_group.add(j.jobId())
                per[j.description().get() if j.description().isDefined() else None] += 1
        assert in_window == in_group, (sorted(in_window), sorted(in_group))
        return per

    return run
