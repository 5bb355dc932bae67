from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from raster_join_spark.session import get_spark

    # small local session for tests; bench uses SPARK_GRAFT_CPUS
    spark = get_spark(app_name="rjs-tests", master="local[4]", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """``spark_jobs(call)`` runs ``call`` under a job group of its own and
    returns ``(result, jobs)``, ``jobs`` holding one list per Spark job
    the call ran: the task count of each of its stages."""
    import itertools

    sc = spark.sparkContext
    serial = itertools.count()

    def run(call):
        group = f"spark-jobs-{next(serial)}"
        sc.setJobGroup(group, group)
        try:
            out = call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = [
            [tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(j).stageIds]
            for j in sorted(tracker.getJobIdsForGroup(group))
        ]
        return out, jobs

    return run
