"""bench.run_query: the one place a registry query is timed and counted.

Runs two queries through it on the test session and checks its record
against counts taken independently: every job id the query submitted
(a job-id range, not the job group), walked through the StatusTracker
with the rule perfbench's ``Engine.group_counts`` uses."""

from __future__ import annotations

import pytest

import bench
from flink_examples_spark.queries import registry

REPS = 2


def _submitted(sc) -> int:
    return sc._jsc.sc().dagScheduler().nextJobId()


@pytest.mark.parametrize(
    "name, python_nodes",
    [("wordcount", []), ("media_image_features", ["MapInPandas"])],
)
def test_record_counts_match_status_tracker(spark, sf_dir, name, python_nodes):
    sc = spark.sparkContext
    first = _submitted(sc)
    rec = bench.run_query(spark, name, registry()[name], sf_dir, REPS)
    jobs = list(range(first, _submitted(sc)))

    tracker = sc.statusTracker()
    assert sorted(tracker.getJobIdsForGroup(f"bench:{name}")) == jobs
    stages = tasks = 0
    for jid in jobs:
        for sid in tracker.getJobInfo(jid).stageIds:
            si = tracker.getStageInfo(sid)
            if si.numCompletedTasks + si.numFailedTasks:
                stages += 1
                tasks += si.numCompletedTasks

    assert jobs and tasks
    counts = rec["counts"]
    assert counts["jobs"] == round(len(jobs) / REPS, 1)
    assert counts["stages"] == round(stages / REPS, 1)
    assert counts["tasks"] == round(tasks / REPS, 1)
    assert counts["python_nodes"] == python_nodes
    assert len(rec["runs"]) == REPS and rec["stall_retries"] == 0
    assert rec["plan"] and sc.getLocalProperty("spark.jobGroup.id") is None
