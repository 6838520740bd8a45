"""``session.run_concurrently``: independent driver actions on their own
threads, labelled like the caller's own jobs, results in argument
order, failures raised only once every action has finished."""

import time

import pytest

from clinvar_pipeline_spark.session import run_concurrently


def test_jobs_inherit_the_callers_job_group_and_tags(spark):
    sc = spark.sparkContext
    sc.setJobGroup("run-concurrently-group", "job group inheritance")
    spark.addTag("run-concurrently-tag")
    try:
        counts = run_concurrently(
            spark, lambda: spark.range(5).count(), lambda: spark.range(7).count()
        )
    finally:
        spark.removeTag("run-concurrently-tag")
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert counts == [5, 7]
    jobs = sc.statusTracker().getJobIdsForGroup("run-concurrently-group")
    assert len(jobs) >= 2
    store = sc._jsc.sc().statusStore()
    for job in jobs:
        tags = store.job(job).jobTags().mkString(",").split(",")
        assert any(t.endswith("-run-concurrently-tag") for t in tags), (job, tags)


def test_failure_raised_after_every_thunk_finished_in_argument_order(spark):
    finished = []

    def fail_late():
        time.sleep(0.3)
        raise ValueError("first argument")

    def fail_early():
        raise KeyError("third argument")

    def slow():
        time.sleep(0.6)
        finished.append("slow")
        return "slow"

    with pytest.raises(ValueError, match="first argument"):
        run_concurrently(spark, fail_late, slow, fail_early)
    assert finished == ["slow"]

    def late():
        time.sleep(0.3)
        return "late"

    assert run_concurrently(spark, late, lambda: "early") == ["late", "early"]
    assert run_concurrently(spark) == []
