"""Self-tests of the benchmark: its span arithmetic, event-log
extraction and stream attribution on a recorded event-log fixture, and
one end-to-end traced run on tiny inputs.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
from types import SimpleNamespace

import pytest

from perfbench import eventlog, harness, spans
from perfbench.run import LAYER_UNITS
from perfbench.streams import StreamTracker, fold, progress_record

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")
# The fixture holds one k-means query (Python-worker accumulables) and
# one micro-batch of a stream whose job group is its run id.
KMEANS_TAG = "t0/kmeans_clusters"
STREAM_RUN_ID = "bf2cafe9-2cf9-46af-900f-1af3bf16dc1f"
STREAM_TAG = "t0/stream_hourly_event_stats"


def _recorder(tree: list[tuple[str, float, float, int | None]], attrs=None) -> spans.Recorder:
    """A recorder holding ``(kind, start, end, parent)`` spans."""
    rec = spans.Recorder()
    for i, (kind, start, end, parent) in enumerate(tree):
        rec.spans.append(spans.Span(kind, kind, start, end, parent, dict((attrs or {}).get(i, {}))))
    return rec


def test_union_length_merges_overlaps_and_gaps():
    assert spans.union_length([]) == 0.0
    assert spans.union_length([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == pytest.approx(3.0)
    assert spans.union_length([(3.0, 4.0), (0.0, 1.0), (0.2, 0.4)]) == pytest.approx(2.0)
    assert spans.clip([(0.0, 5.0), (6.0, 7.0)], 1.0, 6.5) == [(1.0, 5.0), (6.0, 6.5)]


def test_self_time_subtracts_covered_part_of_children():
    rec = _recorder(
        [
            ("pass", 0.0, 10.0, None),
            ("query", 1.0, 6.0, 0),
            ("construct", 1.0, 3.0, 1),
            ("execute", 2.5, 5.0, 1),  # overlaps construct: counted once
            ("query", 7.0, 9.0, 0),
        ]
    )
    assert spans.self_time(rec, 0) == pytest.approx(10.0 - 5.0 - 2.0)
    assert spans.self_time(rec, 1) == pytest.approx(5.0 - 4.0)
    by_kind = spans.self_times_by_kind(rec, 0)
    assert by_kind["pass"] == pytest.approx(3.0)
    assert by_kind["query"] == pytest.approx(1.0 + 2.0)
    # Overlapping siblings each keep their own self time.
    assert sum(by_kind.values()) == pytest.approx(10.0 + 0.5)


def test_coverage_check_within_five_percent():
    def tree(gap: float):
        return _recorder(
            [
                ("pass", 0.0, 10.0, None),
                ("clear", 0.0, 0.3, 0),
                ("probe", 0.3, 0.5, 0),
                ("query", 0.5, 10.0, 0),
                ("construct", 0.5, 4.0, 3),
                ("plan", 4.0, 4.2, 3),
                ("execute", 4.2, 10.0 - gap, 3),
            ]
        )

    ok = spans.coverage(tree(0.3), 0)
    assert ok == pytest.approx(0.97) and spans.coverage_ok(ok)
    bad = spans.coverage(tree(0.8), 0)
    assert bad == pytest.approx(0.92) and not spans.coverage_ok(bad)


def test_idle_is_pass_wall_minus_union_of_job_spans():
    rec = _recorder(
        [
            ("pass", 0.0, 10.0, None),
            ("clear", 0.0, 1.0, 0),
            ("query", 1.0, 10.0, 0),
            ("construct", 1.0, 5.0, 2),
            ("execute", 5.0, 10.0, 2),
        ],
        attrs={1: {"clear_plan_cache_s": 0.1}, 2: {"tag": "p0/q"}},
    )
    ms = rec.to_epoch_ms
    jobs = [(2.0, 4.0), (3.0, 4.5), (6.0, 7.0), (11.0, 12.0)]  # the last is outside the pass
    stats = {
        "jobs": 4,
        "task_time_ms": 8000,
        "spans": [{"job": i, "start_ms": ms(s), "end_ms": ms(e)} for i, (s, e) in enumerate(jobs)],
    }
    row, check, queries, chrome_jobs = harness.pass_layers(rec, 0, {"p0/q": stats}, {}, cores=4)
    assert row["exec.wall_s"] == pytest.approx(3.5, abs=1e-6)
    assert row["exec.idle_s"] == pytest.approx(6.5, abs=1e-6)
    assert row["exec.busy_frac"] == pytest.approx(8.0 / (3.5 * 4), rel=1e-6)
    assert row["registry.construct_jobs"] == 2
    assert queries["p0/q"]["construct_s"] == pytest.approx(4.0)
    assert check["ok"] and len(chrome_jobs) == 4


def test_accumulable_and_task_metric_extraction():
    extras = eventlog.task_extras([FIXTURE])
    km = extras[KMEANS_TAG]
    assert km["python_bytes_sent"] > 0 and km["python_bytes_returned"] > 0
    assert km["python_run_ms"] > 0
    assert km["cpu_ns"] > 0 and km["input_rows"] > 0
    # Recount the Python accumulables straight from the file.
    sent = 0
    for line in open(FIXTURE):
        ev = json.loads(line)
        if ev["Event"] == "SparkListenerTaskEnd":
            for acc in ev["Task Info"]["Accumulables"]:
                if acc["Name"] == "data sent to Python workers":
                    sent += int(acc["Update"])
    assert km["python_bytes_sent"] == sent


def test_run_id_jobs_fold_into_the_query_that_started_the_stream():
    unmapped = eventlog.by_query([FIXTURE], {})
    assert STREAM_RUN_ID in unmapped and STREAM_TAG not in unmapped
    mapped = eventlog.by_query([FIXTURE], {STREAM_RUN_ID: STREAM_TAG})
    assert STREAM_RUN_ID not in mapped
    assert mapped[STREAM_TAG]["jobs"] == unmapped[STREAM_RUN_ID]["jobs"] > 0
    assert mapped[STREAM_TAG]["task_time_ms"] == unmapped[STREAM_RUN_ID]["task_time_ms"]
    assert mapped[KMEANS_TAG]["jobs"] == unmapped[KMEANS_TAG]["jobs"]


def test_stream_tracker_maps_run_id_to_current_tag_and_folds_progress():
    tracker = StreamTracker()
    tracker.onQueryStarted(SimpleNamespace(runId="r-before"))  # no query running
    tracker.current = STREAM_TAG
    tracker.onQueryStarted(SimpleNamespace(runId=STREAM_RUN_ID))
    tracker.current = None
    assert tracker.run_to_tag == {STREAM_RUN_ID: STREAM_TAG}
    durations = {"triggerExecution": 100, "addBatch": 60, "walCommit": 5, "commitOffsets": 7}
    tracker.batches[STREAM_RUN_ID] = [
        progress_record(durations, [(3, 10)]),
        progress_record(durations, [(4, 25), (1, 5)]),
    ]
    tracker.batches["r-before"] = [progress_record(durations, [])]
    got = tracker.per_tag()
    assert list(got) == [STREAM_TAG]
    assert got[STREAM_TAG] == {
        "batches": 2,
        "trigger_ms": 200,
        "add_batch_ms": 120,
        "log_commit_ms": 24,
        "state_commit_ms": 8,
        "state_rows": 30,
    }
    assert fold([]) == dict.fromkeys(got[STREAM_TAG], 0)


def test_smoke_traced_streams_run():
    """One traced run on tiny inputs: every per-layer metric printed,
    outputs checked, streams attributed, span tree complete."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "streams", "--seed", "3",
         "--seconds", "1", "--trace", "1", "--smoke"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    metrics = result["metrics"]
    assert set(metrics) == set(LAYER_UNITS)
    assert metrics["streaming.trigger_s"]["value"] > 0
    assert metrics["streaming.batches"]["value"] > 0
    assert metrics["exec.task_s"]["value"] > 0
    assert spans.coverage_ok(metrics["trace.span_coverage"]["value"])
    assert "storage after clear" in out.stdout
    with open(os.path.join(ROOT, "perfbench", ".work", "traces", "streams-seed3.json")) as f:
        checks = json.load(f)["passes"]
    assert checks and all(c["ok"] for c in checks)
    # The traced pass wall leaves the storage probes out.
    assert all(c["probe_s"] > 0 for c in checks)
    assert metrics["trace.suite_s"]["value"] == pytest.approx(
        statistics.median(c["wall_s"] - c["probe_s"] for c in checks)
    )
