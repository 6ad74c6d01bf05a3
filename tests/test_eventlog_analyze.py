"""``tools/eventlog_run.py --analyze`` on a small synthetic event log.

File-listing jobs are counted by their job description, and their tasks
by the stages those jobs ran, so a per-directory listing of a
partitioned table shows without reading the log by hand. No Spark
needed: the analyzer is JSON lines in, one JSON record out.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "tools", "eventlog_run.py")


def _job(job_id: int, stage_ids: list[int], description: str | None) -> dict:
    props = {"spark.jobGroup.id": "incr/fact"}
    if description is not None:
        props["spark.job.description"] = description
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stage_ids, "Properties": props}


def _task(stage_id: int) -> dict:
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1010},
            "Task Metrics": {}}


def test_analyze_counts_listing_jobs_and_tasks(tmp_path):
    events = (
        [{"Event": "SparkListenerApplicationStart", "Timestamp": 0},
         _job(0, [0], "Listing leaf files and directories for 365 paths:<br/>"
                      "/wh/fact/date_id=20240101, ...")]
        + [_task(0) for _ in range(365)]
        + [_job(1, [1, 2], None)]
        + [_task(1) for _ in range(4)] + [_task(2) for _ in range(4)]
        + [_job(2, [3], "Listing leaf files and directories for 40 paths:<br/>"
                        "/feed/a.csv, ...")]
        + [_task(3) for _ in range(4)]
        + [_job(3, [4], "collect at emission.py")]
        + [_task(4)]
        + [{"Event": "SparkListenerApplicationEnd", "Timestamp": 5000}]
    )
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = subprocess.run([sys.executable, TOOL, "--analyze", str(log)],
                         capture_output=True, text=True, check=True)
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    assert rec["tasks"] == 365 + 8 + 4 + 1
    assert rec["listing_jobs"] == 2
    assert rec["listing_tasks"] == 365 + 4
