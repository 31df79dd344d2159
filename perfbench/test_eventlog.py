"""The event-log fold against a query whose shape is known: one job,
two stages, 4 scan tasks and 3 reduce tasks.

Run with ``python3 -m pytest perfbench/test_eventlog.py``.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventlog import fold, read_events  # noqa: E402

pyspark = pytest.importorskip("pyspark")


def test_fold_two_stage_query(tmp_path):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    log_dir = tmp_path / "events"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", str(log_dir))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .getOrCreate()
    )
    sc = spark.sparkContext
    try:
        sc.setJobGroup("t:agg:1", "t:agg:1")
        sc.setJobDescription("action")
        rows = (
            spark.range(0, 1000, 1, 4)
            .groupBy((F.col("id") % 7).alias("k"))
            .count()
            .collect()
        )
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup("t:agg:1")
        stage_ids = {s for j in job_ids for s in tracker.getJobInfo(j).stageIds}
        tasks = sum(tracker.getStageInfo(s).numCompletedTasks for s in stage_ids)
    finally:
        spark.stop()

    assert len(rows) == 7
    assert (len(job_ids), len(stage_ids), tasks) == (1, 2, 7)
    groups, jobs = fold(read_events(str(log_dir)))
    g = groups[("t:agg:1", "action")]
    assert (g["jobs"], g["stages"], g["tasks"], g["failed_tasks"]) == (1, 2, 7, 0)
    assert g["input_rows"] == 1000
    assert g["shuffle_write_bytes"] > 0
    assert g["shuffle_read_bytes"] == g["shuffle_write_bytes"]
    assert 0 < g["executor_cpu_s"] and 0 < g["executor_run_s"] <= g["task_s"]
    assert [j["group"] for j in jobs] == ["t:agg:1"]
    assert jobs[0]["start"] <= jobs[0]["end"]
