from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cuda_acceleratedvectordatabaseengine_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="cavde-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` in a job group of its own and
    returns ``(fn(), {"jobs", "stages", "tasks"})``: the Spark jobs the call
    submitted, the stages of those jobs that ran a task, and the tasks
    that completed, as ``statusTracker`` saw them once the listener bus
    has drained. A row's job budget asserts on these counts."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store is fed by the listener bus, asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        stages = [st.getStageInfo(s) for j in jobs for s in j.stageIds]
        ran = [s for s in stages if s is not None and s.numCompletedTasks > 0]
        return out, {
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": sum(s.numCompletedTasks for s in ran),
        }

    return run
