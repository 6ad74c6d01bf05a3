"""Tests of the event-log stage table's serial and skew flags.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from tracing import Tracer, span_summary, stage_table  # noqa: E402


def _task_end(stage: int, seconds: float) -> str:
    return json.dumps(
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {"Launch Time": 0, "Finish Time": int(seconds * 1000), "Failed": False},
            "Task Metrics": {"JVM GC Time": 0, "Memory Bytes Spilled": 0},
        }
    )


def test_skew_and_serial_flags_from_task_times(tmp_path):
    log = tmp_path / "events"
    job = {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1, 2], "Properties": {"spark.jobGroup.id": "q"}}
    lines = [json.dumps(job)]
    lines += [_task_end(0, s) for s in (0.2, 0.2, 0.2, 1.5)]  # max >= 4x median and >= 1 s
    lines += [_task_end(1, s) for s in (0.9, 1.0, 1.1)]  # even
    lines += [_task_end(2, 1.2)]  # one task
    log.write_text("\n".join(lines) + "\n")

    stages, jobs = stage_table(str(log), parallelism=4)
    flags = {s["stage"]: (s["serial"], s["skew"]) for s in stages}
    assert flags == {0: (False, True), 1: (False, False), 2: (True, False)}
    assert jobs == ["q"]
    assert span_summary(stages, "q")["serial_stages"] == 1
    # a single task cannot be serialised work when only one slot exists
    stages, _ = stage_table(str(log), parallelism=1)
    assert not any(s["serial"] for s in stages)


def test_serial_flag_catches_one_row_group_scan(tmp_path):
    from pyspark.sql import functions as F

    from emission_project_spark.session import get_spark

    data = tmp_path / "one_row_group.parquet"
    pq.write_table(pa.table({"x": list(range(5000))}), data, row_group_size=5000)
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = get_spark(
        "perfbench-test",
        master="local[2]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )

    @F.pandas_udf("long")
    def slow(s):
        time.sleep(1.2)
        return s

    try:
        tracer = Tracer(spark.sparkContext)
        df = spark.read.parquet(str(data))
        with tracer.span("scan"):
            df.select(slow("x").alias("x")).agg(F.sum("x")).collect()
        with tracer.span("spread"):
            df.repartition(2).select(slow("x").alias("x")).agg(F.sum("x")).collect()
        tracer.uninstall()
    finally:
        spark.stop()

    (log,) = log_dir.iterdir()
    stages, _ = stage_table(str(log), parallelism=2)
    assert span_summary(stages, "scan")["serial_stages"] == 1
    assert span_summary(stages, "spread")["serial_stages"] == 0
