"""bench.run_query: the one place a registry query is timed and counted.

Runs three queries through it on the test session and checks its record
against counts taken independently: every job id the query submitted
(a job-id range, not the job group), walked through the StatusTracker
with the rule perfbench's ``Engine.group_counts`` uses, and the job ids
each rep's ``spark_fn`` consumed, read by a wrapper around it."""

from __future__ import annotations

import dataclasses

import pytest

import bench
from flink_examples_spark.queries import registry

REPS = 2


def _submitted(sc) -> int:
    return sc._jsc.sc().dagScheduler().nextJobId()


@pytest.mark.parametrize(
    "name, python_nodes",
    [
        ("wordcount", []),
        ("media_image_features", ["MapInPandas"]),
        ("dedup_minhash_clusters", []),
    ],
)
def test_record_counts_match_status_tracker(spark, sf_dir, name, python_nodes):
    sc = spark.sparkContext
    q = registry()[name]
    built = []

    def spark_fn(spark, sf_dir):
        before = _submitted(sc)
        df = q.spark_fn(spark, sf_dir)
        built.append(_submitted(sc) - before)
        return df

    first = _submitted(sc)
    rec = bench.run_query(
        spark, name, dataclasses.replace(q, spark_fn=spark_fn), sf_dir, REPS
    )
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
    # of the three, only connected_components' tier gate runs a job
    # inside spark_fn; the other two build lazily
    assert len(built) == REPS
    assert (sum(built) > 0) == (name == "dedup_minhash_clusters")
    assert counts["build_jobs"] == round(sum(built) / REPS, 1)
    assert counts["python_nodes"] == python_nodes
    assert len(rec["runs"]) == REPS and rec["stall_retries"] == 0
    assert rec["plan"] and sc.getLocalProperty("spark.jobGroup.id") is None
