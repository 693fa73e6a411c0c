from __future__ import annotations

import contextlib

import pytest

from log_anomaly_detector_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]")
    yield s
    s.stop()


@pytest.fixture
def job_ids(spark):
    """``with job_ids(group) as ids:`` runs the block's Spark jobs in job
    group ``group``; once the block exits, ``ids`` holds their job ids (the
    UI is off, so the status tracker is what counts them)."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def count(group: str):
        ids: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield ids
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            ids.extend(sc.statusTracker().getJobIdsForGroup(group))

    return count
