"""Shared Spark session for the whole test run (JVM startup and
whole-stage-codegen warmup are expensive; one session amortizes them).
"""

from __future__ import annotations

import uuid
from collections import namedtuple
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


# one stage that ran: one entry per successful task, the rows that task
# read from its shuffle input (0 for a scan task)
StageRun = namedtuple("StageRun", "stage_id shuffle_rows")


@pytest.fixture
def spark_stages(spark):
    """``spark_stages(job_ids)`` lists the stages those jobs ran (in
    stage-id order; stages skipped because their shuffle output was
    reused are left out) as :class:`StageRun` rows."""
    def stages(job_ids):
        sc = spark.sparkContext
        tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
        ids = sorted({s for j in job_ids for s in tracker.getJobInfo(j).stageIds})
        out = []
        for sid in ids:
            info = tracker.getStageInfo(sid)
            if info is None or not info.numCompletedTasks:
                continue
            tasks = store.taskList(sid, info.currentAttemptId, info.numTasks)
            done = [tasks.apply(i) for i in range(tasks.size())]
            out.append(StageRun(sid, [
                t.taskMetrics().get().shuffleReadMetrics().recordsRead()
                for t in done if t.status() == "SUCCESS"]))
        return out

    return stages
