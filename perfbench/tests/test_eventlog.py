"""The event-log reader on a tiny log written by a local[1] session: only
jobs tagged with the op property count, and task metrics and SQL
accumulables land under their per-layer names.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tracing  # noqa: E402


def test_reader_sums_tagged_jobs_only(tmp_path):
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-eventlog-test")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", str(tmp_path / "wh"))
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        src = str(tmp_path / "t.parquet")
        spark.range(5000).selectExpr("id", "id % 7 AS k").write.parquet(src)  # untagged
        sc.setLocalProperty(tracing.OP_PROPERTY, "op1")
        sc.setLocalProperty(tracing.PHASE_PROPERTY, "exec")
        rows = spark.read.parquet(src).groupBy("k").count().orderBy("k").collect()
        sc.setLocalProperty(tracing.OP_PROPERTY, None)
        sc.setLocalProperty(tracing.PHASE_PROPERTY, None)
        spark.range(10).collect()  # untagged
        app_id = sc.applicationId
    finally:
        spark.stop()
    assert len(rows) == 7

    path = tracing.find_event_log(str(log_dir), app_id)
    tagged = tracing.read_event_log(path)
    everything = tracing.read_event_log(path, only_tagged=False)

    assert tagged["spark.jobs"] >= 1
    assert everything["spark.jobs"] > tagged["spark.jobs"]
    assert everything["spark.tasks"] > tagged["spark.tasks"] >= tagged["spark.stages"] >= 1
    assert tagged["spark.tasks_failed"] == 0
    assert tagged["registry.eager_jobs"] == 0
    assert tagged["spark.executor_run_s"] > 0
    assert tagged["spark.scan.bytes"] > 0
    assert tagged["spark.exchange.write_bytes"] > 0
    assert tagged["spark.exchange.write_s"] > 0
    assert tagged["spark.result_bytes"] > 0
    # the timers are present; on a fast host they may round to zero ms
    assert tagged["spark.scan.time_s"] >= 0 and tagged["spark.aggregate.build_s"] >= 0
    assert set(tagged) == set(tracing.EVENTLOG_METRICS)
