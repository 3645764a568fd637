"""Session helpers (session.py): the parallelism fallback and empty frames
that cost no tasks."""

from __future__ import annotations

import os
import uuid

from datastream_deltalake_connector_spark.session import (
    default_parallelism,
    empty_frame,
)


def test_default_parallelism_falls_back_to_cpu_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3


def tasks_run(spark, action) -> int:
    """Tasks launched by ``action``, summed over the jobs it submitted."""
    sc = spark.sparkContext
    group = f"tasks-run-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    total = 0
    for job in tracker.getJobIdsForGroup(group):
        for stage in tracker.getJobInfo(job).stageIds:
            info = tracker.getStageInfo(stage)
            total += info.numTasks if info else 0
    return total


def test_empty_frame_launches_no_tasks(spark):
    schema = "id bigint, name string"
    df = empty_frame(spark, schema)
    assert df.schema.simpleString() == "struct<id:bigint,name:string>"
    assert tasks_run(spark, df.collect) == 0
    # the list form it replaces runs one Python task per default partition
    assert tasks_run(spark, spark.createDataFrame([], schema).collect) > 0
    # and it stays task-free inside a union with real rows
    one = spark.createDataFrame([(1, "a")], schema)
    assert tasks_run(spark, one.unionByName(df).collect) == tasks_run(
        spark, one.collect
    )
