"""Tracing: job-group tagging + event-log condensation (the Spark
analogue of the reference's Perfetto traces, utils.py:47-169)."""

from __future__ import annotations

import json
import os

from minispark_spark import tracing

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_log(path, events):
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def test_summarize_event_log(tmp_path):
    log = str(tmp_path / "app-1")
    _fake_log(
        log,
        [
            {
                "Event": "SparkListenerJobStart",
                "Job ID": 0,
                "Submission Time": 1000,
                "Stage IDs": [0, 1],
                "Properties": {"spark.jobGroup.id": "q1"},
            },
            {
                "Event": "SparkListenerTaskEnd",
                "Stage ID": 0,
                "Task Metrics": {
                    "Executor Run Time": 40,
                    "Shuffle Read Metrics": {"Remote Bytes Read": 10, "Local Bytes Read": 5},
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                    "Input Metrics": {"Bytes Read": 100},
                },
            },
            {
                "Event": "SparkListenerTaskEnd",
                "Stage ID": 1,
                "Task Metrics": {"Executor Run Time": 10},
            },
            {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
            {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
            {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1250},
            # a second, untagged job must not pollute q1
            {
                "Event": "SparkListenerJobStart",
                "Job ID": 1,
                "Submission Time": 2000,
                "Stage IDs": [2],
            },
            {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2100},
        ],
    )
    summary = tracing.summarize_event_log(log)
    q1 = summary["q1"]
    assert q1["jobs"] == 1 and q1["stages"] == 2 and q1["tasks"] == 2
    assert q1["wall_ms"] == 250
    assert q1["task_time_ms"] == 50
    assert q1["shuffle_read_bytes"] == 15
    assert q1["shuffle_write_bytes"] == 7
    assert q1["input_bytes"] == 100
    assert summary["(untagged)"]["wall_ms"] == 100

    chrome = tracing.to_chrome_trace(summary)
    assert any(e["ph"] == "X" and e["dur"] == 250_000 for e in chrome)


def test_end_to_end_trace_artifact(tmp_path):
    """A real Spark session with event logging on yields a per-query
    artifact with nonzero task counts for a tagged job. Runs in a
    subprocess: event logging is a SparkContext-creation conf, and the
    test suite's shared context was started without it."""
    import subprocess
    import sys

    trace_dir = str(tmp_path / "trace")
    out = str(tmp_path / "trace.json")
    script = f"""
import json
from minispark_spark import tracing
from minispark_spark.session import get_spark

confs = tracing.trace_confs({trace_dir!r})
spark = get_spark("trace-test", master="local[2]",
                  extra_conf={{"spark.ui.enabled": "false", **confs}})
app_id = spark.sparkContext.applicationId
with tracing.tagged(spark.sparkContext, "count_job"):
    assert spark.range(100000).selectExpr("sum(id)").collect()[0][0] == 99999 * 100000 // 2
spark.stop()
summary = tracing.write_trace({trace_dir!r}, app_id, {out!r})
assert summary is not None, "no event log found"
print(json.dumps({{"app_id": app_id}}))
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=180,
        cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    app_id = json.loads(proc.stdout.strip().splitlines()[-1])["app_id"]
    artifact = json.load(open(out))
    assert artifact["app_id"] == app_id
    rec = artifact["queries"]["count_job"]
    assert rec["tasks"] > 0 and rec["jobs"] >= 1 and rec["wall_ms"] > 0
