"""Shared Spark session for the whole test run (JVM startup and
whole-stage-codegen warmup are expensive; one session amortizes them).
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

import pytest

from geoparser_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="geoparser-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def gazetteer(spark):
    from geoparser_spark.testing.gazetteer import gazetteer_df

    return gazetteer_df(spark).cache()


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs() as ids:`` collects the ids of the Spark jobs
    run inside the block (job events arrive asynchronously, so the
    listener bus is drained first)."""
    @contextmanager
    def collect():
        sc = spark.sparkContext
        group = f"jobs-{uuid.uuid4().hex}"
        ids: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield ids
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            ids.extend(sc.statusTracker().getJobIdsForGroup(group))

    return collect
