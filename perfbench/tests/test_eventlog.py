"""The exec.* metrics come from a small event log generated here."""

import glob
import os

import eventlog
from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def test_event_log_parses_into_exec_metrics(tmp_path):
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (SparkSession.builder.master("local[2]").appName("perfbench-eventlog-test")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", str(log_dir))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.logStageExecutorMetrics", "true")
             .config("spark.executor.metrics.pollingInterval", "100ms")
             .getOrCreate())
    sc = spark.sparkContext
    try:
        sc.setJobGroup("op0", "grouped count")
        sc.setLocalProperty(eventlog.PHASE, "collect")
        sc.setLocalProperty(eventlog.FAMILY, "joins")
        groups = (spark.range(0, 10_000, 1, 4).groupBy((F.col("id") % 7).alias("k"))
                  .count().collect())
        sc.setJobGroup("op1", "plain count")
        sc.setLocalProperty(eventlog.PHASE, "build")
        sc.setLocalProperty(eventlog.FAMILY, None)
        spark.range(0, 100, 1, 2).count()
        app_id = sc.applicationId
    finally:
        spark.stop()
    assert len(groups) == 7

    (path,) = glob.glob(os.path.join(log_dir, app_id + "*"))
    log = eventlog.parse(path)
    rows = eventlog.op_rows(log)
    assert set(rows) == {"op0", "op1"}

    op0 = rows["op0"]
    assert op0["jobs"] >= 1 and op0["build_jobs"] == 0
    assert op0["stages"] >= 2  # map side and reduce side of the shuffle
    assert op0["tasks"] >= 4
    assert op0["shuffle_write_bytes"] > 0
    assert op0["shuffle_read_bytes"] == op0["shuffle_write_bytes"]
    assert op0["result_bytes"] > 0
    assert op0["task_cpu_s"] > 0
    assert "HashAggregate" in op0["operators"]
    assert {s["family"] for s in op0["stage_rows"]} == {"joins"}
    assert rows["op1"]["build_jobs"] == rows["op1"]["jobs"] >= 1

    assert eventlog.family_jobs(log)["joins"] == op0["jobs"]
    totals = eventlog.totals(rows, {"op0", "op1"})
    assert totals["exec.jobs"] == op0["jobs"] + rows["op1"]["jobs"]
    assert totals["exec.tasks"] == op0["tasks"] + rows["op1"]["tasks"]
    assert totals["exec.shuffle_write_bytes"] == (op0["shuffle_write_bytes"]
                                                + rows["op1"]["shuffle_write_bytes"])
    assert totals["exec.spill_bytes"] == 0
    # heap peaks are maxed over the groups, not summed
    assert op0["peak_jvm_heap_bytes"] > 0
    assert totals["exec.peak_jvm_heap_bytes"] == max(op0["peak_jvm_heap_bytes"],
                                                     rows["op1"]["peak_jvm_heap_bytes"])
