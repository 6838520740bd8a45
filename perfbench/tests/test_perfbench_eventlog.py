"""The event-log reader, on a hand-written log and on a tiny local
session's real rolling log."""

from __future__ import annotations

import json

import eventlog


def _write(path, events):
    path.write_text("".join(json.dumps(e) + "\n" for e in events))


def test_synthetic_log_folds_tasks_stages_and_python_metrics(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    plan = {"metrics": [], "children": [{"metrics": [
        {"name": eventlog.PY_TIME, "accumulatorId": 7, "metricType": "timing"},
        {"name": eventlog.PY_SENT, "accumulatorId": 8, "metricType": "size"},
        {"name": "number of output rows", "accumulatorId": 9, "metricType": "sum"},
    ], "children": []}]}
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {
        "Executor Run Time": 1500, "Executor CPU Time": 500_000_000, "JVM GC Time": 100,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 1048576},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 2097152},
        "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
        "Input Metrics": {"Bytes Read": 1048576}, "Output Metrics": {"Bytes Written": 0},
        "Result Size": 1024}}
    _write(d / "events_1_local-1", [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "span-0",
                                          "callSite.short": "collect at x.py:1",
                                          "spark.sql.execution.id": "0"}},
    ])
    _write(d / "events_2_local-1", [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3, "RDD Info": [
            {"Name": "FileScanRDD", "Scope": '{"id":"5","name":"Scan text "}'}]}},
        task, task,
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3, "Accumulables": [
            {"ID": 7, "Name": None, "Value": 2500}, {"ID": 8, "Value": 3145728},
            {"ID": 9, "Value": 42}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 4000},
        # an adaptive-execution job: same execution, no call site
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000,
         "Stage IDs": [4], "Properties": {"spark.jobGroup.id": "span-0",
                                          "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4500},
    ])
    (d / "appstatus_local-1").write_text("")

    jobs = eventlog.read_event_log(str(tmp_path))
    assert [j.job_id for j in jobs] == [0, 1]
    j = jobs[0]
    assert (j.submit_ms, j.end_ms, j.stages) == (1000, 4000, 1)
    m = j.metrics
    assert m["tasks"] == 2 and m["task_s"] == 3.0 and m["cpu_s"] == 1.0 and m["gc_s"] == 0.2
    assert m["shuffle_read_mb"] == 2.0 and m["shuffle_write_mb"] == 4.0 and m["input_mb"] == 2.0
    assert m["text_input_mb"] == 2.0
    assert m["python_s"] == 2.5 and m["to_python_mb"] == 3.0 and m["from_python_mb"] == 0.0
    assert jobs[1].call_site == "collect at x.py:1"
    total = eventlog.group_by(jobs, lambda j: j.group)["span-0"]
    assert total["jobs"] == 2 and total["tasks"] == 2


def test_reads_a_real_rolling_log(traced_spark, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    spark, log_dir = traced_spark
    sc = spark.sparkContext

    @pandas_udf("long")
    def plus_one(s):
        return s + 1

    sc.setJobGroup("span-7", "test")
    (spark.range(2000, numPartitions=2)
     .select(plus_one(F.col("id")).alias("v"))
     .groupBy((F.col("v") % 5).alias("k")).count().collect())
    sc.setJobGroup("span-8", "text")
    (tmp_path / "t.txt").write_text("a\nb\n" * 1000)
    spark.read.text(str(tmp_path / "t.txt")).count()
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.range(10).count()

    # the log flushes while the application runs; read what is there
    jobs = eventlog.read_event_log(str(log_dir))
    traced = [j for j in jobs if j.group == "span-7"]
    assert traced and all(j.end_ms is not None for j in traced)
    s = eventlog.summarize(traced)
    assert s["tasks"] >= 2 and s["task_s"] > 0
    assert s["shuffle_write_mb"] > 0 and s["shuffle_read_mb"] > 0
    assert s["to_python_mb"] > 0 and s["from_python_mb"] > 0
    assert any(j.call_site and "test_perfbench_eventlog.py" in j.call_site for j in traced)
    assert s["text_input_mb"] == 0
    text = eventlog.summarize([j for j in jobs if j.group == "span-8"])
    assert text["text_input_mb"] > 0 and text["text_input_mb"] == text["input_mb"]
    assert any(j.group is None for j in jobs)
