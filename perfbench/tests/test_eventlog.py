"""The event-log parser on hand-written events and on the log of a tiny
real query.

Run from the root of a checkout::

    python -m pytest perfbench/tests -q
"""

import glob
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog  # noqa: E402


def _task(stage, ms, run_ms, shuffle_write=0, spilled=0, python=()):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms,
                          "Accumulables": [{"Name": n, "Update": str(v)}
                                           for n, v in python]},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 1,
                             "Memory Bytes Spilled": spilled,
                             "Shuffle Read Metrics": {
                                 "Remote Bytes Read": 0,
                                 "Local Bytes Read": 5},
                             "Shuffle Write Metrics": {
                                 "Shuffle Bytes Written": shuffle_write}}}


def test_counters_by_job_group():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        _task(0, 10, 8, shuffle_write=100,
              python=[("time to run Python workers", 7),
                      ("data sent to Python workers", 50)]),
        _task(0, 10, 8, shuffle_write=100),
        _task(1, 40, 30, spilled=3),
        _task(2, 5, 4),
    ]
    groups = eventlog.parse(json.dumps(e) for e in events)
    a = groups["a"].counters()
    assert a["jobs"] == 1 and a["stages"] == 2 and a["tasks"] == 3
    assert a["executor_run_s"] == pytest.approx(0.046)
    assert a["gc_s"] == pytest.approx(0.003)
    assert a["shuffle_write_bytes"] == 200
    assert a["shuffle_read_bytes"] == 15
    assert a["spill_bytes"] == 3
    assert a["task_skew"] == pytest.approx(4.0)   # 40 ms over median 10
    assert groups["a"].python == {"python_run_ms": 7, "to_python_bytes": 50}
    assert groups[""].counters()["tasks"] == 1
    both = eventlog.total(groups, ["a", ""]).counters()
    assert both["jobs"] == 2 and both["tasks"] == 4


@pytest.mark.spark
def test_tiny_query_log(tmp_path):
    """A partition-pruned read and a pandas UDF, each in its own job
    group, read back from Spark's own uncompressed event log."""
    pyspark = pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    log_dir = tmp_path / "events"
    log_dir.mkdir()
    spark = (SparkSession.builder.master("local[2]")
             .appName("perfbench-eventlog-test")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.local.dir", str(tmp_path / "local"))
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://%s" % log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    try:
        sc = spark.sparkContext
        table = str(tmp_path / "t")
        (spark.range(400).withColumn("k", F.col("id") % 4).coalesce(1)
         .write.partitionBy("k").parquet(table))   # one file per k

        sc.setJobGroup("read", "pruned read")
        rows = spark.read.parquet(table).filter("k = 1").collect()

        @F.pandas_udf("long")
        def plus_one(s):
            return s + 1

        sc.setJobGroup("udf", "pandas udf")
        total = (spark.range(1000).select(plus_one("id").alias("x"))
                 .groupBy().sum("x").first()[0])
    finally:
        spark.stop()
    assert pyspark and len(rows) == 100 and total == 500500

    (log,) = glob.glob(str(log_dir / "*"))
    groups = eventlog.parse_file(log)
    read = groups["read"]
    assert read.jobs >= 1 and read.counters()["tasks"] >= 1
    assert read.scans == 1 and read.files_read == 1   # 1 of 4 partitions
    udf = groups["udf"].counters()
    assert udf["jobs"] >= 1 and udf["stages"] >= 1
    assert udf["executor_run_s"] > 0
    assert groups["udf"].python["to_python_bytes"] > 0
    assert groups["udf"].python["from_python_bytes"] > 0
