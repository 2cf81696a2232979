"""Per-layer numbers from a Spark event log.

``minispark_spark.tracing.summarize_event_log`` already folds the log
into per-job-group job spans, stage and task counts, task time, shuffle
and input bytes. This module adds what it leaves out, keyed the same
way: CPU and GC time, shuffle fetch wait and spill, input rows, and
the Python-worker SQL metrics (``PythonSQLMetrics``) that reach the log
as task accumulables. It also re-keys streaming jobs, whose job group
is the stream's run id, onto the query that started the stream.
"""

from __future__ import annotations

import json
from typing import Iterable, Iterator

from minispark_spark.tracing import _event_log_files as log_files, summarize_event_log

UNTAGGED = "(untagged)"

# SQL metric name -> our field. Timing metrics are milliseconds, sizes bytes.
PYTHON_ACCUMULABLES = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}
EXTRA_FIELDS = (
    "cpu_ns",
    "gc_ms",
    "fetch_wait_ms",
    "spill_bytes",
    "input_rows",
    *PYTHON_ACCUMULABLES.values(),
)


def _events(paths: Iterable[str]) -> Iterator[dict]:
    for p in paths:
        with open(p) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except ValueError:
                    continue


def _num(v: object) -> int:
    try:
        return int(float(v))  # accumulable updates arrive as str or int
    except (TypeError, ValueError):
        return 0


def task_extras(paths: list[str]) -> dict[str, dict[str, int]]:
    """Per job group: the task metrics ``summarize_event_log`` omits."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, int]] = {}
    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", UNTAGGED)
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"), UNTAGGED)
            rec = out.setdefault(group, dict.fromkeys(EXTRA_FIELDS, 0))
            m = ev.get("Task Metrics") or {}
            rec["cpu_ns"] += m.get("Executor CPU Time", 0)
            rec["gc_ms"] += m.get("JVM GC Time", 0)
            rec["fetch_wait_ms"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
            rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            rec["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                field = PYTHON_ACCUMULABLES.get(acc.get("Name"))
                if field:
                    rec[field] += _num(acc.get("Update"))
    return out


def _merge(into: dict, rec: dict) -> None:
    for k, v in rec.items():
        if k == "spans":
            into.setdefault("spans", []).extend(v)
        elif isinstance(v, (int, float)):
            into[k] = into.get(k, 0) + v


def by_query(paths: list[str], run_to_tag: dict[str, str]) -> dict[str, dict]:
    """Per query tag: ``summarize_event_log``'s record plus
    ``task_extras``. Groups named by a stream run id are folded into
    the tag that started that stream; other groups keep their name."""
    base = summarize_event_log(paths)
    extras = task_extras(paths)
    out: dict[str, dict] = {}
    for group in set(base) | set(extras):
        tag = run_to_tag.get(group, group)
        rec = out.setdefault(tag, {"spans": [], **dict.fromkeys(EXTRA_FIELDS, 0)})
        _merge(rec, base.get(group, {}))
        _merge(rec, extras.get(group, {}))
    return out
